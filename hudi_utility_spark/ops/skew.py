"""Skew-aware join utility: salting for hot keys.

AQE's skew-join splitting (enabled in session.py) handles most skew at
the shuffle layer; salting is the explicit fallback for the pathological
case AQE can't fix — a broadcast-ineligible build side where a handful of
keys dominate (e.g. joining an events fact to a per-user dim when a few
bot users hold 1% of all rows each).

Mechanics: replicate the small side R times; scatter the big side's rows
uniformly across the R replicas with a random-ish salt derived from a
stable row hash (deterministic → retries/speculative tasks agree). Each
hot key's rows then spread over R tasks instead of one straggler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    how: str = "inner",
    salt_buckets: int = 16,
    salt_source: list[str] | None = None,
) -> DataFrame:
    """Equi-join `big ⋈ small` on `on`, salting `big` across
    ``salt_buckets`` replicas of `small`.

    ``salt_source``: columns whose hash scatters the big side (defaults
    to all of big's columns — any stable per-row identity works).
    Supported ``how``: inner / left (the salted side must be the
    preserved side; for right/full flip the arguments).
    """
    if how not in {"inner", "left"}:
        raise ValueError(f"salted_join supports inner/left, got {how}")
    src = salt_source or big.columns
    salted_big = big.withColumn(
        SALT_COL,
        F.pmod(F.xxhash64(*[F.col(c) for c in src]), F.lit(salt_buckets)).cast(
            "int"
        ),
    )
    replicated_small = small.withColumn(
        SALT_COL,
        F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)])),
    )
    return salted_big.join(replicated_small, [*on, SALT_COL], how).drop(SALT_COL)


def key_histogram(df: DataFrame, on: list[str], top: int = 20) -> DataFrame:
    """Per-key row counts, heaviest first — the profiling step that
    decides whether salting (or just AQE) is warranted. Key columns break
    count ties so the top-N cut is deterministic (rerun- and
    oracle-stable)."""
    return (
        df.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("rows"))
        .orderBy(F.desc("rows"), *[F.asc(c) for c in on])
        .limit(top)
    )


def cms_sketch(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Count-Min sketch of a key column (Cormode & Muthukrishnan 2005):
    ``depth`` rows × ``width`` counters, counter (j, h_j(key) % width)
    incremented per row. Returns the (j, pos, cnt) sketch relation —
    ``depth × width`` rows TOTAL regardless of key cardinality, which is
    the point: hot-key detection on a 100 TB fact with billions of
    distinct keys costs a bounded-state aggregate (map-side partials
    reduce each task to ≤ depth·width counters before the exchange)
    instead of an O(keys) histogram shuffle. Hashes are the portable md5
    family, so estimates are engine-reproducible (oracle-checkable)."""
    cells = _cms_cells(key_col, depth, width)
    return (
        df.select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.j").alias("j"), F.col("c.pos").alias("pos"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _cms_cells(key_col: str, depth: int, width: int):
    """The *depth* counters (j, h_j(key) % *width*) a key hits."""
    from hudi_utility_spark.ops import phash

    hi, lo = phash.parts(F.col(key_col).cast("string"))
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (phash.family_hash(hi, lo, j) % F.lit(width)).alias("pos"),
            )
            for j in range(depth)
        ]
    )


def cms_estimate(
    sketch: DataFrame, keys: DataFrame, key_col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Point-estimate key frequencies from a Count-Min sketch: the MIN
    over the key's ``depth`` counters. One-sided error — estimates never
    undercount, and overcount by ≤ εN with probability 1−δ for
    width = e/ε, depth = ln(1/δ). The probe side is a candidate-key
    batch joined against the broadcast-sized sketch relation."""
    cells = _cms_cells(key_col, depth, width)
    probes = keys.select(F.col(key_col), F.explode(cells).alias("c")).select(
        key_col, F.col("c.j").alias("j"), F.col("c.pos").alias("pos")
    )
    return (
        probes.join(F.broadcast(sketch), ["j", "pos"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est_rows"))
    )


def join_cardinality_estimate(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    p: int = 9,
) -> DataFrame:
    """Pre-join output-size estimate — the System-R/Catalyst formula
    ``|L|*|R| / max(ndv(L.k), ndv(R.k))`` with NDVs from the portable
    HyperLogLog sketch — reported side by side with the ACTUAL join
    cardinality. This is the planner diagnostic that decides whether a
    join is safe to run, needs a broadcast, or is about to explode
    (est >> inputs implies a low-NDV hot key; follow up with
    :func:`key_histogram` and :func:`salted_join`).

    Scale: the estimate costs two single-pass sketches (2^p counters
    each) and two count aggregates — orders of magnitude cheaper than
    the join it predicts; the five 1-row results combine via broadcast
    cross-joins (benign BNLJ of scalars). The actual-count leg exists
    for the diagnostic's calibration readout and is skipped in
    production by taking ``estimate_only`` from this plan."""
    from hudi_utility_spark.ops.quality import hll_distinct

    nl = left.agg(F.count(F.lit(1)).alias("n_left"))
    nr = right.agg(F.count(F.lit(1)).alias("n_right"))
    hl = hll_distinct(
        left.select(F.col(left_key).alias("k")), ["k"], p=p
    ).select(F.col("est_distinct").alias("ndv_left"))
    hr = hll_distinct(
        right.select(F.col(right_key).alias("k")), ["k"], p=p
    ).select(F.col("est_distinct").alias("ndv_right"))
    ac = (
        left.join(right, left[left_key] == right[right_key])
        .agg(F.count(F.lit(1)).alias("actual_rows"))
    )
    row = (
        nl.crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hr))
        .crossJoin(F.broadcast(ac))
    )
    return row.select(
        "n_left",
        "n_right",
        "ndv_left",
        "ndv_right",
        F.round(
            F.col("n_left")
            * F.col("n_right")
            / F.greatest(F.col("ndv_left"), F.col("ndv_right")),
            4,
        ).alias("est_rows"),
        "actual_rows",
    )
