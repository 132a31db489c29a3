"""Seeded input generator for the benchmark.

Everything the program reads during a run comes from here: the ten
corpus tables the query registry expects (same names, columns and
Arrow types as the fixture corpus), the two lifecycle sources, and the
lifecycle's commit batches, damage plan and lookup key batches. The
same seed gives byte-identical files (``numpy`` PCG64 streams, no
wall-clock values, no pandas metadata in the parquet footers).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "new")
_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
_SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_LANGS = ("en", "zh", "es", "de", "fr")
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _ts(base, offset_us):
    return pa.array(base + offset_us.astype("timedelta64[us]"), pa.timestamp("us"))


# -- corpus tables -----------------------------------------------------------


def tpch_tables(rng: np.random.Generator, sf: float, days: int = 2404) -> dict[str, pa.Table]:
    """TPC-H-shaped tables at scale *sf*, orders spread over *days* days
    from 1995-01-01 (2404: to 2001-08-01, as the fixture corpus)."""
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_orders = int(200_000 * sf), int(1_500_000 * sf)
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    part = pa.table({
        "p_partkey": pk,
        "p_name": pa.array(
            [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]
        ),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, ("ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"), n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    order_day = rng.integers(0, days, n_orders)
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": _pick(rng, ("P", "O", "F"), n_orders),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _ts(_EPOCH_1995, order_day * _DAY_US),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_orders),
    })
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.cumsum(lines) - lines
    lnum = (np.arange(len(okey)) - np.repeat(starts, lines) + 1).astype(np.int32)
    n_li = len(okey)
    ship_day = np.repeat(order_day, lines) + rng.integers(1, 96, n_li)
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": _pick(rng, ("R", "A", "N"), n_li),
        "l_linestatus": _pick(rng, ("O", "F"), n_li),
        "l_shipdate": _ts(_EPOCH_1995, ship_day * _DAY_US),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    offs = np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(_EPOCH_2024, offs),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            dups = " dup dup" if rng.random() < 0.2 else " dup"
            texts.append(texts[int(rng.integers(0, i))] + dups)
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(8, 100)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n, p=(0.44, 0.14, 0.14, 0.14, 0.14)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, n)
    vec = centers[label] + rng.normal(0.0, 0.6, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_corpus(seed: int, out_dir: str, sf: float) -> None:
    """The ten corpus tables at scale *sf*, one parquet file each."""
    rng = np.random.default_rng([seed, 1])
    tables = tpch_tables(rng, sf)
    tables["events"] = events_table(rng, int(1_000_000 * sf), int(15_000 * sf))
    tables["documents"] = documents_table(rng, int(50_000 * sf))
    tables["embeddings"] = embeddings_table(rng, int(50_000 * sf))
    for name in CORPUS_TABLES:
        _write(tables[name], os.path.join(out_dir, f"{name}.parquet"))


# -- lifecycle inputs ----------------------------------------------------------


# sizes shared by every workload
LINEITEM_SF = 0.0025  # COW source size, in TPC-H scale factor (~15k rows)
LINEITEM_DAYS = 365  # order dates span this many days, so ~16 ship months
EVENTS_N = 10_000  # MOR source rows
COMMITS = 12  # batches generated per table, more than a run applies
LOOKUP_BATCHES = 6  # looked up once each a run
LOOKUP_KEYS = 64  # keys per lookup batch


@dataclass
class LifecycleProfile:
    """Input properties of a lifecycle stream (fixed per workload; the
    seed picks the keys and values inside them)."""

    batch_frac: float  # commit batch size as a share of the table
    hot_tail: bool  # batches hit the most recent partitions only


@dataclass
class LifecyclePlan:
    """What the generator wrote, as the lifecycle streams read it back."""

    cow_source: str
    mor_source: str
    cow_ops: list[dict] = field(default_factory=list)  # the COW commit stream
    mor_ops: list[dict] = field(default_factory=list)  # the MOR commit stream
    damage: dict = field(default_factory=dict)
    lookups: list[str] = field(default_factory=list)


# COW commit kinds in stream order; cheap and dear kinds alternate, so
# the median of however many commits a run makes moves little
COW_KINDS = ("upsert", "delete", "upsert_partial", "merge")
MOR_DELETE_EVERY = 4  # every fourth MOR commit deletes keys, the rest upsert


def _instant(seq: int) -> str:
    # 17-digit instants in the program's yyyyMMddHHmmssSSS shape,
    # strictly increasing with the commit sequence number
    return f"20240201{seq:09d}"


def _pick_rows(rng, n_rows: int, part_of_row: np.ndarray, k: int, hot_tail: bool,
               n_parts: int) -> np.ndarray:
    """Row indices for one batch: uniform over the table, or confined to
    the most recent eighth of its partitions (hot tail)."""
    if hot_tail:
        hot = np.flatnonzero(part_of_row >= n_parts - max(n_parts // 8, 1))
        return np.sort(rng.choice(hot, min(k, len(hot)), replace=False))
    return np.sort(rng.choice(n_rows, min(k, n_rows), replace=False))


def _bump(tbl: pa.Table, col: str, seq: int) -> pa.Table:
    # newer precombine, same partition: the stored partition column is
    # untouched, the timestamp moves forward by `seq` minutes
    v = tbl.column(col).to_numpy() + np.timedelta64(seq, "m")
    return tbl.set_column(tbl.schema.get_field_index(col), col, pa.array(v, pa.timestamp("us")))


def _cow_batch(rng, kind: str, seq: int, rows) -> pa.Table:
    b = _bump(rows(), "l_shipdate", seq)
    n = b.num_rows
    if kind == "upsert":
        return b.set_column(4, "l_quantity", pa.array(rng.integers(1, 51, n).astype(np.float64)))
    if kind == "upsert_partial":
        keep = ["l_orderkey", "l_linenumber", "l_shipdate", "ship_month"]
        cols = {c: (b.column(c) if c in keep else pa.nulls(n, b.schema.field(c).type))
                for c in b.column_names}
        cols["l_discount"] = pa.array(np.round(rng.integers(0, 11, n) * 0.01, 2))
        return pa.table(cols, schema=b.schema)
    if kind == "delete":
        return b.select(["l_orderkey", "l_linenumber", "l_shipdate", "ship_month"])
    # merge: matched rows update or delete, new keys insert
    b = b.set_column(4, "l_quantity", pa.array(rng.integers(1, 51, n).astype(np.float64)))
    new = _bump(rows(max(n // 4, 1)), "l_shipdate", seq)
    new = new.set_column(0, "l_orderkey", pa.array(
        new.column("l_orderkey").to_numpy() + 10_000_000 * seq))
    return pa.concat_tables([b, new])


def write_lifecycle(seed: int, out_dir: str, prof: LifecycleProfile) -> LifecyclePlan:
    rng = np.random.default_rng([seed, 2])
    li = tpch_tables(rng, LINEITEM_SF, LINEITEM_DAYS)["lineitem"]
    ship = li.column("l_shipdate").to_numpy()
    months = np.datetime_as_string(ship.astype("datetime64[M]"))
    li = li.append_column("ship_month", pa.array(months))
    ev = events_table(rng, EVENTS_N, 1500)
    # week index of the 30 days the events span (5 partitions)
    weeks = (ev.column("ts").to_numpy() - _EPOCH_2024).astype("timedelta64[W]").astype(np.int32)
    ev = ev.append_column("event_week", pa.array(weeks, pa.int32()))
    plan = LifecyclePlan(
        cow_source=os.path.join(out_dir, "src", "lineitem"),
        mor_source=os.path.join(out_dir, "src", "events"),
    )
    # one file per partition group keeps the bootstrap read parallel
    for tbl, path in ((li, plan.cow_source), (ev, plan.mor_source)):
        os.makedirs(path, exist_ok=True)
        for i, chunk in enumerate(tbl.to_batches(max_chunksize=max(tbl.num_rows // 4, 1))):
            _write(pa.Table.from_batches([chunk]), os.path.join(path, f"part-{i}.parquet"))

    li_months = sorted(set(months))
    li_part = np.searchsorted(li_months, months)
    ev_part = np.searchsorted(sorted(set(weeks)), weeks)
    k_li = max(int(li.num_rows * prof.batch_frac), 1)
    k_ev = max(int(ev.num_rows * prof.batch_frac), 1)
    bdir = os.path.join(out_dir, "batches")

    def cow_rows(k=k_li):
        return li.take(_pick_rows(rng, li.num_rows, li_part, k, prof.hot_tail, len(li_months)))

    # the two tables have timelines of their own; each stream's batches
    # carry newer precombine values than the ones before them
    for seq in range(1, COMMITS + 1):
        kind = COW_KINDS[(seq - 1) % len(COW_KINDS)]
        path = os.path.join(bdir, f"cow-{seq:03d}-{kind}.parquet")
        _write(_cow_batch(rng, kind, seq, cow_rows), path)
        plan.cow_ops.append({"kind": kind, "path": path, "instant": _instant(seq)})
    for seq in range(1, COMMITS + 1):
        kind = "delete" if seq % MOR_DELETE_EVERY == 0 else "upsert"
        b = _bump(ev.take(_pick_rows(rng, ev.num_rows, ev_part, k_ev, prof.hot_tail,
                                     int(ev_part.max()) + 1)), "ts", seq)
        if kind == "upsert":
            b = b.set_column(4, "value", pa.array(np.round(rng.exponential(50.0, b.num_rows), 2)))
        else:
            b = b.select(["event_id", "ts", "event_week"])
        path = os.path.join(bdir, f"mor-{seq:03d}-{kind}.parquet")
        _write(b, path)
        plan.mor_ops.append({"kind": kind, "path": path, "instant": _instant(seq)})

    # damage to the bootstrap table (of the events source): drop one
    # partition, truncate (halve one file of) another, both among the
    # four full weeks, so every seed damages the same share of the table
    a, b = rng.choice(4, 2, replace=False)
    ev_weeks = sorted(set(weeks.tolist()))
    plan.damage = {"drop": str(ev_weeks[a]), "truncate": str(ev_weeks[b])}
    for i in range(LOOKUP_BATCHES):
        keys = li.take(np.sort(rng.choice(li.num_rows, LOOKUP_KEYS, replace=False)))
        path = os.path.join(out_dir, "lookups", f"keys-{i}.parquet")
        _write(keys.select(["l_orderkey", "l_linenumber"]), path)
        plan.lookups.append(path)
    rel = json.loads(json.dumps(asdict(plan)).replace(out_dir.rstrip("/") + "/", ""))
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump({"profile": asdict(prof), "plan": rel}, f, indent=1, sort_keys=True)
    return plan
