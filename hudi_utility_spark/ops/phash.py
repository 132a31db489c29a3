"""Portable hash primitives: identical values in Spark, DuckDB, and
plain Python.

Every approximate operator in this repo (MinHash, SimHash, hyperplane
LSH) needs a deterministic hash family. ``xxhash64`` (the r2 choice) is
Spark-specific, which forced those operators down to rows-only driver
checks. These primitives derive everything from **md5** — available in
every engine with identical semantics — so the full MinHash/SimHash/LSH
pipelines become value-hash-checkable against DuckDB oracles.

Layout of one hash:

* ``hi``/``lo`` — the first/second 8 hex chars of ``md5(utf8 bytes)``
  as 32-bit nonneg integers.
* ``hash64`` — the signed 64-bit combination ``(hi - 2^31)·2^32 + lo``:
  spans the full signed range with no arithmetic overflow in either
  engine (products stay under 2^63; Spark runs ANSI mode, DuckDB checks
  BIGINT overflow — wrap-around tricks are NOT portable, so none are
  used).
* ``family(i)`` — the i-th universal hash ``(aᵢ·hi + bᵢ·lo + cᵢ) mod
  (2^31-1)`` with constants derived from md5 of a tag string; operands
  are bounded (aᵢ,bᵢ < 2^30, hi,lo < 2^32) so every intermediate stays
  under 2^63.

Each primitive has three renditions kept in lockstep: a Spark Column
builder, a DuckDB SQL-fragment builder (for oracle strings), and a
plain-Python reference (for tests).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

P31 = 2_147_483_647  # 2^31 - 1 (Mersenne prime) — the family's modulus


def family_constants(i: int) -> tuple[int, int, int]:
    """(aᵢ, bᵢ, cᵢ) for the i-th universal hash, derived from md5 of a
    public tag — no stored model, reproducible anywhere."""

    def d(tag: str, bits: int) -> int:
        h = hashlib.md5(f"phash:{i}:{tag}".encode()).hexdigest()
        return int(h[:8], 16) % (1 << bits)

    return d("a", 30) | 1, d("b", 30) | 1, d("c", 31)


# -- Spark Column builders ---------------------------------------------------

def md5_hex(col: Column) -> Column:
    return F.md5(col.cast("binary"))


def uniform(col: Column) -> Column:
    """A draw in (0, 1) from the first 48 bits of md5(col); the +0.5
    keeps it strictly positive."""
    u48 = F.conv(F.substring(md5_hex(col), 1, 12), 16, 10).cast("long")
    return (u48 + F.lit(0.5)) / F.lit(float(1 << 48))


def md5_parity(col: Column) -> Column:
    """0 or 1: the first 24 bits of md5(col) mod 2, the portable A/B
    split (DuckDB: ``CAST(concat('0x', substr(md5(x), 1, 6)) AS BIGINT) % 2``)."""
    return F.conv(F.substring(F.md5(col), 1, 6), 16, 10).cast("long") % 2


def parts(col: Column) -> tuple[Column, Column]:
    """(hi, lo) 32-bit halves of md5(col)."""
    m = md5_hex(col)
    hi = F.conv(F.substring(m, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(m, 9, 8), 16, 10).cast("long")
    return hi, lo


def hash64(col: Column) -> Column:
    """Signed 64-bit portable hash of a string column."""
    hi, lo = parts(col)
    return combine64(hi, lo)


def combine64(hi: Column, lo: Column) -> Column:
    return (hi - F.lit(2_147_483_648)) * F.lit(4_294_967_296) + lo


def family_hash(hi: Column, lo: Column, i: int) -> Column:
    a, b, c = family_constants(i)
    return (F.lit(a) * hi + F.lit(b) * lo + F.lit(c)) % F.lit(P31)


# -- Spark SQL fragment builders (for F.expr strings) ------------------------
#
# Text renditions of the Column builders above, value-identical, for
# call sites that unroll k hashes: building k Column trees costs k×~10
# py4j round-trips, while one F.expr parses JVM-side in ms (ops/lits.py
# discipline, r12).

def spark_sql_parts(expr: str) -> tuple[str, str]:
    hi = f"CAST(conv(substring(md5(CAST({expr} AS BINARY)), 1, 8), 16, 10) AS BIGINT)"
    lo = f"CAST(conv(substring(md5(CAST({expr} AS BINARY)), 9, 8), 16, 10) AS BIGINT)"
    return hi, lo


def spark_sql_hash64(expr: str) -> str:
    hi, lo = spark_sql_parts(expr)
    return f"(({hi} - 2147483648) * 4294967296 + {lo})"


def spark_sql_family(hi_expr: str, lo_expr: str, i: int) -> str:
    a, b, c = family_constants(i)
    return f"(({a} * {hi_expr} + {b} * {lo_expr} + {c}) % {P31})"


# -- DuckDB SQL fragment builders (for oracle strings) -----------------------

def sql_parts(expr: str) -> tuple[str, str]:
    hi = f"CAST(concat('0x', substr(md5({expr}), 1, 8)) AS BIGINT)"
    lo = f"CAST(concat('0x', substr(md5({expr}), 9, 8)) AS BIGINT)"
    return hi, lo


def sql_hash64(expr: str) -> str:
    hi, lo = sql_parts(expr)
    return f"(({hi} - 2147483648) * 4294967296 + {lo})"


def sql_family(hi_expr: str, lo_expr: str, i: int) -> str:
    a, b, c = family_constants(i)
    return f"(({a} * {hi_expr} + {b} * {lo_expr} + {c}) % {P31})"


# -- plain-Python reference (for tests) --------------------------------------

def py_parts(s: str) -> tuple[int, int]:
    m = hashlib.md5(s.encode()).hexdigest()
    return int(m[:8], 16), int(m[8:16], 16)


def py_hash64(s: str) -> int:
    hi, lo = py_parts(s)
    return (hi - 2_147_483_648) * 4_294_967_296 + lo


def py_family(s: str, i: int) -> int:
    a, b, c = family_constants(i)
    hi, lo = py_parts(s)
    return (a * hi + b * lo + c) % P31
