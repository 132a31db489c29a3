"""Fast plan-literal builders.

Folding a model (centroid table, PQ codebook, query vector) into the
plan as a literal is the right 100 TB shape — it is the map-side-join
trick done with an expression, so assignment runs inside whole-stage
codegen with zero shuffle and zero Python. But building that literal
element-by-element (``F.array(*[F.lit(x) for x in vec])``) costs one
py4j round-trip per element: a 49x64 centroid literal measured 1.9 s of
pure driver time (guide §5: the driver should do almost no work), and
multi-pass fitters (k-means, k-means||, PQ) pay it once per iteration.

These helpers render the same literal as ONE SQL string parsed JVM-side
by ``F.expr`` — a single py4j call; the parse itself is milliseconds.
Value-exactness: Python ``repr`` of a float is the shortest string that
round-trips through IEEE-754 double, and Spark parses ``<repr>D``
literals with ``Double.parseDouble``, so the resulting DoubleType
literals are bit-identical to ``F.lit(float(x))``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(x: float) -> str:
    """SQL double literal with exact round-trip (D-suffixed repr)."""
    return repr(float(x)) + "D"


def _arr_d(vec: list[float]) -> str:
    return "array(" + ",".join(_d(x) for x in vec) + ")"


def array_double(vec: list[float]) -> Column:
    """``array<double>`` literal — replaces
    ``F.array(*[F.lit(float(x)) for x in vec])``."""
    return F.expr(_arr_d(vec))


def _struct_cid_c(cid: int, vec: list[float]) -> str:
    return f"named_struct('cid',{int(cid)},'c',{_arr_d(vec)})"


def array_struct_cid_c(centroids: list[list[float]]) -> Column:
    """``array<struct<cid:int,c:array<double>>>`` literal with
    ``cid`` = list index — the centroid-table shape of
    ``ops/cluster.py`` / ``ops/similarity.py``."""
    return F.expr(
        "array("
        + ",".join(_struct_cid_c(i, v) for i, v in enumerate(centroids))
        + ")"
    )


def array_struct_pairs(pairs: list[tuple[int, list[float]]]) -> Column:
    """Same shape as :func:`array_struct_cid_c` but with explicit ids."""
    return F.expr(
        "array(" + ",".join(_struct_cid_c(i, v) for i, v in pairs) + ")"
    )


def array_array_struct_cid_c(
    books: list[list[list[float]]],
) -> Column:
    """``array<array<struct<cid,c>>>`` literal — the nested PQ-codebook
    shape (``element_at(lit, s+1)`` = subspace *s*'s codebook)."""
    return F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(_struct_cid_c(i, v) for i, v in enumerate(book))
            + ")"
            for book in books
        )
        + ")"
    )


def array_string(items: list[str]) -> Column:
    """``array<string>`` literal; items must not need escaping beyond
    single quotes (escaped here)."""
    quoted = ",".join("'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'" for s in items)
    return F.expr("array(" + quoted + ")")


def _s(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def in_string_set(col_sql: str, items: list[str]) -> Column:
    """``col IN ('a','b',…)`` rendered as one SQL expr — the optimizer
    turns a large IN-list into an O(1) InSet hash probe, where
    ``array_contains`` on a literal array stays a linear scan per row.
    ``col_sql`` is a column NAME (or SQL fragment), not user data."""
    if not items:
        return F.lit(False)
    return F.expr(f"{col_sql} IN ({','.join(_s(s) for s in items)})")


def map_string_long(d: dict[str, int]) -> Column:
    """``map<string,bigint>`` literal — a broadcast-join replaced by an
    ``element_at`` lookup inside codegen (missing key → NULL, i.e. the
    same semantics as the left join it replaces)."""
    if not d:
        return F.expr("cast(map() as map<string,bigint>)")
    entries = ",".join(f"{_s(k)},{int(v)}L" for k, v in d.items())
    return F.expr(f"map({entries})")


def map_string_long_pair(d: dict[str, tuple[int, int]]) -> Column:
    """``map<string,array<bigint>>`` literal with 2-element values —
    e.g. a pruned bigram model carrying (count, context-count)."""
    if not d:
        return F.expr("cast(map() as map<string,array<bigint>>)")
    entries = ",".join(
        f"{_s(k)},array({int(a)}L,{int(b)}L)" for k, (a, b) in d.items()
    )
    return F.expr(f"map({entries})")
