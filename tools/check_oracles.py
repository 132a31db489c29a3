"""Local replica of the driver's correctness gate: run every queries()
entry against its DuckDB oracle at a given SF and report row-count /
schema / column-type / value-hash agreement.

The type rule (``type_mismatches``) holds each oracled column to the
Spark column's type class: an integral Spark column needs a DuckDB
TINYINT..BIGINT, a fractional one FLOAT or DOUBLE, and neither side may
carry HUGEINT or DECIMAL. A DuckDB ``SUM`` over integers is HUGEINT,
which a pandas round trip turns into float64 (``6153063.0`` against
Spark's ``6153063``), so values that agree here can still hash apart
downstream; the rule catches that where a value compare cannot.

Usage: python tools/check_oracles.py [sf_dir] [name_filter]
                                     [--json-out=PATH]

--json-out writes an auditable per-query record (git sha, UTC stamp,
ok/err per query) — preflight merges the two halves into
GATE_LOCAL.json at the repo root so the "414/414 local gate" claim is
an inspectable artifact, not prose.
"""

from __future__ import annotations

import hashlib
import math
import sys
from pathlib import Path

import duckdb
from pyspark.sql.types import (
    DecimalType,
    DoubleType,
    FloatType,
    IntegralType,
    StructType,
)

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod
from hudi_utility_spark.session import get_spark
from hudi_utility_spark.tables import TABLE_NAMES


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style float normalization: repr of rounded value
        return f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "|".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


_DUCK_INTEGRAL = {"tinyint", "smallint", "integer", "bigint"}
_DUCK_FRACTIONAL = {"float", "double"}
_DUCK_WIDE = {"hugeint", "uhugeint", "decimal"}


def type_mismatches(rel: duckdb.DuckDBPyRelation, schema: StructType) -> list[str]:
    """Columns of the oracle relation *rel* whose DuckDB type does not
    match the type class of the same-named column in the Spark *schema*
    (see the module docstring)."""
    spark_types = {f.name: f.dataType for f in schema.fields}
    problems = []
    for col, dtype in zip(rel.columns, rel.types):
        st = spark_types.get(col)
        if st is None:
            continue
        if dtype.id in _DUCK_WIDE or isinstance(st, DecimalType):
            ok = False
        elif isinstance(st, IntegralType):
            ok = dtype.id in _DUCK_INTEGRAL
        elif isinstance(st, (FloatType, DoubleType)):
            ok = dtype.id in _DUCK_FRACTIONAL
        else:
            ok = True
        if not ok:
            problems.append(f"type {col}: spark={st.simpleString()} duck={dtype}")
    return problems


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    json_out = None
    for a in sys.argv[1:]:
        if not a.startswith("--"):
            continue
        if a.startswith("--json-out="):
            json_out = a.split("=", 1)[1]
        else:
            # a typo'd flag ("--json-out PATH", "--jsonout=x") used to
            # be silently dropped — the run produced no artifact and no
            # warning, leaving a stale GATE_LOCAL.json as "evidence"
            print(f"error: unrecognized flag {a!r} "
                  "(supported: --json-out=PATH)", file=sys.stderr)
            return 2
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    name_filter = args[1] if len(args) > 1 else ""
    spark = get_spark("oracle-check")
    per_query: dict[str, dict] = {}
    con = duckdb.connect()
    for t in TABLE_NAMES:
        p = f"{sf_dir}/{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    checked = 0
    for name, fn in sorted(qs.items()):
        if name_filter and not __import__("re").search(name_filter, name):
            continue
        checked += 1
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as exc:
            failures.append(name)
            per_query[name] = {"ok": False, "err": f"spark error: {str(exc)[:200]}"}
            print(f"FAIL  {name}: spark error: {str(exc)[:200]}", flush=True)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (rows-only check)", flush=True)
            per_query[name] = {
                "ok": len(srows) > 0, "rows": len(srows), "mode": "rows_only",
            }
            if len(srows) == 0:
                failures.append(name)
                print(f"FAIL  {name}: 0 rows", flush=True)
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            drows = rel.fetchall()
        except Exception as exc:
            failures.append(name)
            per_query[name] = {"ok": False, "err": f"oracle error: {str(exc)[:200]}"}
            print(f"FAIL  {name}: oracle error: {str(exc)[:200]}", flush=True)
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"schema spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            sh = value_hash([tuple(r) for r in srows], scols)
            dh = value_hash(drows, dcols)
            if sh != dh:
                problems.append("value-hash mismatch")
                # show a sample difference
                sset = {
                    "|".join(
                        _norm_cell(t[i])
                        for i in sorted(range(len(scols)), key=lambda i: scols[i])
                    )
                    for t in (tuple(r) for r in srows)
                }
                dset = {
                    "|".join(
                        _norm_cell(t[i])
                        for i in sorted(range(len(dcols)), key=lambda i: dcols[i])
                    )
                    for t in drows
                }
                only_s = list(sset - dset)[:2]
                only_d = list(dset - sset)[:2]
                if only_s:
                    problems.append(f"spark-only: {only_s}")
                if only_d:
                    problems.append(f"duck-only: {only_d}")
        problems += type_mismatches(rel, sdf.schema)
        if problems:
            failures.append(name)
            per_query[name] = {"ok": False, "err": "; ".join(problems)[:400]}
            print(f"FAIL  {name}: " + "; ".join(problems), flush=True)
        else:
            per_query[name] = {"ok": True, "rows": len(srows)}
            print(f"ok    {name}: {len(srows)} rows", flush=True)
    print(f"\n{checked - len(failures)}/{checked} checked queries agree ({len(qs)} registered)", flush=True)
    if json_out:
        import datetime as _dt
        import json as _json
        import subprocess as _sp

        root = Path(__file__).resolve().parent.parent
        try:
            sha = _sp.check_output(
                ["git", "rev-parse", "HEAD"], cwd=root
            ).decode().strip()
            dirty = bool(
                _sp.check_output(
                    ["git", "status", "--porcelain", "--", ":!*.json"],
                    cwd=root,
                ).strip()
            )
        except Exception:
            sha, dirty = None, None
        import pyspark as _ps

        Path(json_out).write_text(_json.dumps({
            "git_sha": sha,
            "tree_dirty": dirty,
            # engine versions: lets a driver-session red be confirmed
            # or ruled out as version skew vs this local gate run
            "pyspark_version": _ps.__version__,
            "duckdb_version": duckdb.__version__,
            "utc": _dt.datetime.now(_dt.timezone.utc).isoformat(
                timespec="seconds"
            ),
            "sf_dir": sf_dir,
            "checked": checked,
            "agree": checked - len(failures),
            "registered": len(qs),
            "results": per_query,
        }, indent=0, sort_keys=True) + "\n")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
