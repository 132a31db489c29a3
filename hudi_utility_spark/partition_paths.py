"""Hive partition-path handling and partition identity, shared by
compact / delete / merge / repair / expiry.

Spark writes Hive-style partition directories with a specific escaping
scheme (``ExternalCatalogUtils.escapePathName``, cloned from Hive's
``FileUtils``): a fixed set of special characters becomes ``%XX`` (upper
hex), and a NULL or empty partition value becomes
``__HIVE_DEFAULT_PARTITION__``. Engine code that removes partition
directories by hand (dynamic partition overwrite cannot delete a
partition that ends up empty) must build the SAME names, or partitions
whose values contain ``/ : = % #`` … silently survive — for compaction
that means tombstoned rows resurface once the delta log is folded.

The reverse direction lives here only: a directory segment read back
to its value, and the rows of a set of partition values selected by
their string form, NULL included.

This module is also where multi-level partition identity lives: every
touched/survivor computation works over FULL partition-field tuples.
Tracking only ``partition_fields[0]`` loses leaf sub-partitions — with
``[p1, p2]``, an all-deleted leaf ``(A, y)`` is neither rewritten by the
dynamic overwrite (not present in the output) nor removed (``A`` survives
via ``(A, x)``), so its stale base rows come back from the dead.

Reference parity: the reference app only ever partitions by a single
column (``fastapi-backend/pyspark_script.py:360-391`` passes one
``hoodie.datasource.write.partitionpath.field``), so it never hits this;
a general table engine must.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil
import string
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"

# Spark ExternalCatalogUtils.charToEscape (Linux set): C0 controls,
# DEL, and the Hive special characters. Space is NOT escaped.
_ESCAPED_CHARS = set(chr(c) for c in range(0x01, 0x20)) | {
    "\x7f", '"', "#", "%", "'", "*", "/", ":", "=", "?", "\\",
    "{", "[", "]", "^",
}


def partition_value_str(v) -> str | None:
    """Render a collected partition value the way Spark renders it into
    a path: booleans lower-case, None stays None (→ default partition),
    timestamps with the trailing fractional zeros TRIMMED the way
    Spark's ``DateTimeUtils.timestampToString`` does (``00:00:00.123``,
    not Python's ``00:00:00.123000`` — the untrimmed form misses the
    real directory and silently resurrects tombstoned rows, the same
    bug class this module exists to close), ints / strings / dates via
    ``str``. Floats are REJECTED: Java renders them scientific
    (``1.0E20``) where Python says ``1e+20``, and a float is a broken
    partition key to begin with (NaN dirs, equality drift) — raise
    rather than rmtree the wrong name."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        raise TypeError(
            "float partition values are unsupported: Java/Python render "
            "them differently (1.0E20 vs 1e+20), so path reconstruction "
            "would target the wrong directory. Use a string/decimal/int "
            "partition column."
        )
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            # a tz-aware datetime would render an offset suffix
            # ('+00:00') that rstrip('0') corrupts into a path matching
            # no directory — the silent-skip flavor of the resurrect-
            # tombstones bug. collect() hands this module naive values;
            # reject direct callers rather than build a wrong path.
            raise TypeError(
                "tz-aware datetime partition values are unsupported: "
                "render to a session-local naive timestamp first "
                "(Spark's collected TimestampType rows are naive)."
            )
        s = v.isoformat(sep=" ")
        if "." in s:
            # trim only the fractional segment, never the time digits
            head, frac = s.rsplit(".", 1)
            frac = frac.rstrip("0")
            s = f"{head}.{frac}" if frac else head
        return s
    return str(v)


def escape_partition_value(v) -> str:
    """One ``field=value`` path segment's value part, Spark-escaped."""
    s = partition_value_str(v)
    if s is None or s == "":
        return DEFAULT_PARTITION
    return "".join(
        f"%{ord(ch):02X}" if ch in _ESCAPED_CHARS else ch for ch in s
    )


def read_partition_segment(segment: str) -> str | None:
    """The partition value the ``<segment>`` of one ``<field>=<segment>``
    directory name holds: ``None`` for ``__HIVE_DEFAULT_PARTITION__``,
    else the segment with each ``%XX`` decoded (the inverse of
    :func:`escape_partition_value`). Both chars after ``%`` must be hex
    DIGITS, checked explicitly — ``int(x, 16)`` alone also accepts
    Python-isms like ``'+5'`` or ``' 5'``, which Hive/Spark
    ``unescapePathName`` passes through literally."""
    if segment == DEFAULT_PARTITION:
        return None
    out, i = [], 0
    while i < len(segment):
        if (
            segment[i] == "%"
            and i + 3 <= len(segment)
            and segment[i + 1] in string.hexdigits
            and segment[i + 2] in string.hexdigits
        ):
            out.append(chr(int(segment[i + 1 : i + 3], 16)))
            i += 3
            continue
        out.append(segment[i])
        i += 1
    return "".join(out)


def partition_segment(path: Column, fields: list[str]) -> Column:
    """The escaped ``<segment>`` of ``fields[0]``'s directory in a data
    file's ``path``: the directory ``len(fields)`` levels above the
    file, which is the one directly below the table root. A
    ``<field>=`` match higher up (a table stored under ``…/snap=1/``)
    is not it. :func:`read_partition_segment` reads it back."""
    pattern = f"/\\Q{fields[0]}\\E=([^/]+)" + "/[^/]+" * len(fields) + "$"
    return F.regexp_extract(path, pattern, 1)


def partition_values_predicate(field: str, values) -> Column:
    """Rows whose ``field`` holds one of ``values``, compared by Spark's
    string form of the value (``cast(string)``, the form a partition
    diff or a directory listing yields), so typed columns (dates, ints)
    match too. ``None`` selects the NULL partition with ``IS NULL``:
    ``IN`` never matches NULL."""
    value = F.col(field).cast("string")
    keep = value.isin([v for v in values if v is not None])
    if None in values:
        keep = keep | value.isNull()
    return keep


def sorted_partition_values(values) -> list[str | None]:
    """String-form partition values in the order every repair and
    bootstrap summary reports them: sorted, with NULL as ``None``
    first."""
    return sorted(values, key=lambda v: (v is not None, v))


def partition_leaf_dir(root: str, fields: list[str], values: tuple) -> str:
    """``root/f1=v1/f2=v2/...`` with Spark-escaped value segments."""
    segs = [
        f"{f}={escape_partition_value(v)}" for f, v in zip(fields, values)
    ]
    return os.path.join(root.rstrip("/"), *segs)


def distinct_partition_tuples(df: DataFrame, fields: list[str]) -> list[tuple]:
    """Distinct full partition-field tuples — the ONLY safe identity for
    touched/survivor bookkeeping on multi-level partitioned tables. One
    distinct over the partition columns; scalar-only collect (O(number
    of partitions), never O(rows))."""
    return [tuple(r) for r in df.select(*fields).distinct().collect()]


def partition_tuple_predicate(fields: list[str], tuples) -> Column:
    """OR-of-null-safe-ANDs over partition columns: lands on the scan as
    partition pruning (Catalyst evaluates it against partition values at
    planning time), and unlike ``isin`` on the first field alone it
    selects exact leaf tuples.

    Tree shape matters at scale: a left-deep OR chain over thousands of
    touched partitions makes Catalyst analysis recurse thousands of
    frames deep (slow, and a planner stack-overflow risk), so the
    per-tuple conjunctions are combined as a BALANCED binary OR tree —
    depth log₂(N) — with no ``lit(False)/lit(True)`` seed nodes."""
    if not fields:
        raise ValueError("partition_tuple_predicate requires >=1 field")
    tuples = list(tuples)
    if not tuples:
        return F.lit(False)
    disjuncts = [
        reduce(
            lambda a, b: a & b,
            (F.col(f).eqNullSafe(F.lit(v)) for f, v in zip(fields, t)),
        )
        for t in tuples
    ]
    while len(disjuncts) > 1:
        disjuncts = [
            disjuncts[i] | disjuncts[i + 1]
            if i + 1 < len(disjuncts)
            else disjuncts[i]
            for i in range(0, len(disjuncts), 2)
        ]
    return disjuncts[0]


def remove_partition_leaves(
    root: str, fields: list[str], tuples
) -> list[str]:
    """rmtree the leaf dir of each partition tuple (Spark-escaped names),
    then prune ancestor partition dirs left empty — a removed leaf
    ``p1=A/p2=y`` must not leave a husk ``p1=A/`` that a later
    ``mergeSchema`` read trips over. Returns the removed leaf paths."""
    removed = []
    root = root.rstrip("/")
    for t in tuples:
        d = partition_leaf_dir(root, fields, t)
        if os.path.isdir(d):
            shutil.rmtree(d)
            removed.append(d)
        # prune now-empty ancestors up to (not including) root
        parent = os.path.dirname(d)
        while (
            len(parent) > len(root)
            and os.path.isdir(parent)
            and not os.listdir(parent)
        ):
            os.rmdir(parent)
            parent = os.path.dirname(parent)
    return removed
