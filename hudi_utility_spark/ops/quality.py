"""Declarative data-quality constraints over any table (Deequ-style).

The reference's signature capability is validation (SURVEY §2.11 V1–V6:
argument checks, schema membership, post-write reconciliation, partition
completeness). This module extends that posture from *pipeline*
validation to *data* validation: a constraint suite evaluated in ONE
aggregate pass over the table, returning a (constraint, metric, passed)
report — the nightly-audit companion to `validate.py`'s write-time
checks.

Scale shape: every row-local constraint (not-null, range, accepted
values, regex) is a conditional-count expression inside the same
map-side-combinable aggregate — adding a constraint adds an expression,
not a pass. `unique` adds one exact distinct (count_distinct on the key
— a second shuffle keyed by the constrained columns); `referential`
adds one left-anti join against the referenced keys (broadcast: dimension
keys are small). Nothing collects more than the k-row report.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hudi_utility_spark.ops import phash


@dataclass(frozen=True)
class Constraint:
    """One named expectation; ``violations`` counts offending rows.
    Row-local constraints also carry ``row_bad`` — the per-row offense
    predicate — which powers :func:`quarantine_split` (the
    expect-or-quarantine enforcement mode)."""

    name: str
    violations: Column
    description: str = ""
    row_bad: Column | None = None


def not_null(col: str) -> Constraint:
    bad = F.col(col).isNull()
    return Constraint(
        f"not_null({col})",
        F.sum(F.when(bad, 1).otherwise(0)),
        row_bad=bad,
    )


def in_range(col: str, lo=None, hi=None) -> Constraint:
    cond = F.lit(False)
    if lo is not None:
        cond = cond | (F.col(col) < lo)
    if hi is not None:
        cond = cond | (F.col(col) > hi)
    bad = F.col(col).isNotNull() & cond
    return Constraint(
        f"in_range({col})",
        F.sum(F.when(bad, 1).otherwise(0)),
        row_bad=bad,
    )


def accepted_values(col: str, values: list) -> Constraint:
    bad = F.col(col).isNotNull() & ~F.col(col).isin(*values)
    return Constraint(
        f"accepted_values({col})",
        F.sum(F.when(bad, 1).otherwise(0)),
        row_bad=bad,
    )


def matches_regex(col: str, pattern: str) -> Constraint:
    bad = F.col(col).isNotNull() & ~F.col(col).rlike(pattern)
    return Constraint(
        f"matches_regex({col})",
        F.sum(F.when(bad, 1).otherwise(0)),
        row_bad=bad,
    )


def quarantine_split(
    df: DataFrame, constraints: list
) -> tuple[DataFrame, DataFrame]:
    """Expectation enforcement with quarantine (the Delta Live Tables
    "expect or drop + quarantine table" pattern): returns ``(good,
    bad)`` where ``bad`` rows carry a ``violations`` array naming every
    row-local expectation they fail, in suite order. Only row-local
    constraints participate (``unique``/``references`` are relation-
    level — enforce those with `constraint_report` gates).

    Map-only at any scale: the violation array is one codegen'd
    expression, both outputs are filters over the same annotated plan
    — zero shuffles, and writing good/bad to separate sinks re-reads
    nothing when the annotated relation is persisted by the caller.
    """
    rows = [c for c in constraints if isinstance(c, Constraint) and c.row_bad is not None]
    if not rows:
        raise ValueError("quarantine_split needs at least one row-local constraint")
    viol = F.array_compact(
        F.array(*[F.when(c.row_bad, F.lit(c.name)) for c in rows])
    )
    flagged = df.withColumn("violations", viol)
    good = flagged.filter(F.size("violations") == 0).drop("violations")
    bad = flagged.filter(F.size("violations") > 0)
    return good, bad


@dataclass(frozen=True)
class UniqueConstraint:
    cols: tuple[str, ...]


@dataclass(frozen=True)
class ReferentialConstraint:
    col: str
    ref: DataFrame = field(compare=False)
    ref_col: str = ""


def unique(*cols: str) -> UniqueConstraint:
    return UniqueConstraint(tuple(cols))


def references(col: str, ref: DataFrame, ref_col: str) -> ReferentialConstraint:
    return ReferentialConstraint(col, ref, ref_col)


def constraint_report(df: DataFrame, constraints: list) -> DataFrame:
    """Evaluate the suite; returns (constraint, violations, passed)
    ordered by constraint name.

    Row-local constraints share one aggregate pass; each `unique` adds
    a keyed distinct aggregate; each `references` adds a left-anti join
    (broadcast — dimension keys). The report is a union of
    k one-row relations, so the plan stays a handful of tiny aggregates
    regardless of table size.
    """
    row_local = [c for c in constraints if isinstance(c, Constraint)]
    parts: list[DataFrame] = []
    if row_local:
        agg = df.agg(
            *[c.violations.cast("long").alias(f"v{i}") for i, c in enumerate(row_local)]
        )
        parts.append(
            agg.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(c.name).alias("constraint"),
                                F.col(f"v{i}").alias("violations"),
                            )
                            for i, c in enumerate(row_local)
                        ]
                    )
                ).alias("r")
            ).select("r.constraint", "r.violations")
        )
    for c in constraints:
        if isinstance(c, UniqueConstraint):
            name = f"unique({','.join(c.cols)})"
            dup = df.groupBy(*[F.col(x) for x in c.cols]).agg(
                F.count(F.lit(1)).alias("n")
            )
            parts.append(
                dup.agg(
                    (F.sum("n") - F.count(F.lit(1))).cast("long").alias("violations")
                ).select(F.lit(name).alias("constraint"), "violations")
            )
        elif isinstance(c, ReferentialConstraint):
            name = f"references({c.col}->{c.ref_col})"
            keys = F.broadcast(c.ref.select(F.col(c.ref_col).alias(c.col)).distinct())
            orphans = df.filter(F.col(c.col).isNotNull()).join(
                keys, c.col, "left_anti"
            )
            parts.append(
                orphans.agg(F.count(F.lit(1)).cast("long").alias("violations")).select(
                    F.lit(name).alias("constraint"), "violations"
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "constraint",
        "violations",
        (F.col("violations") == 0).alias("passed"),
    ).orderBy("constraint")


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column completeness/cardinality profile: (column, n_rows,
    n_nulls, n_distinct) — the first look a data engineer takes at an
    unfamiliar table, and the input to choosing partition/bucket keys.

    One aggregate with k exact ``count_distinct``s: Spark plans the
    multi-distinct via an Expand (k× the input rows pre-combine) — the
    standard exact-profile cost; swap in ``approx_count_distinct`` at
    100 TB when ±2% is acceptable (loses the oracle). Counts only, no
    min/max: cross-engine value formatting (floats, timestamps) is not
    portable, counts are.
    """
    agg = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"__nul{i}")
            for i, c in enumerate(cols)
        ],
        *[
            F.count_distinct(F.col(c)).alias(f"__dis{i}")
            for i, c in enumerate(cols)
        ],
    )
    return agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col("__n").alias("n_rows"),
                        F.col(f"__nul{i}").alias("n_nulls"),
                        F.col(f"__dis{i}").alias("n_distinct"),
                    )
                    for i, c in enumerate(cols)
                ]
            )
        ).alias("r")
    ).select("r.column", "r.n_rows", "r.n_nulls", "r.n_distinct").orderBy("column")


def _rank_ladder(lo, bits: int = 32):
    """Leading-zero rank of a ``bits``-wide nonnegative value as a pure
    integer comparison ladder (rank = bits+1 − bit_length; value 0 →
    bits+1). No log2/floats — a float ulp at an exact power of two
    would flip a bucket rank differently per engine."""
    from pyspark.sql import functions as F

    expr = F.lit(bits + 1)  # lo == 0 case (all leading zeros)
    for b in range(1, bits + 1):
        # evaluated bottom-up: the largest threshold ends up checked first
        expr = F.when(lo >= F.lit(1 << (b - 1)), F.lit(bits + 1 - b)).otherwise(expr)
    return expr


def hll_distinct(df: DataFrame, cols: list[str], p: int = 9) -> DataFrame:
    """Portable HyperLogLog distinct-count estimates (Flajolet et al.
    2007): bucket = md5-hi mod 2^p, rank = leading-zero count of md5-lo
    + 1, per-bucket max rank, harmonic-mean estimate with the standard
    small-range correction. Unlike `approx_count_distinct` (Spark's
    engine-private HLL++), every step here is portable integer/dyadic
    arithmetic — identical in DuckDB — so cardinality sketching joins
    the value-hash-checked families. Returns (column, est_distinct).

    Scale: ONE scan of the input for every profiled column — the
    columns unpivot via `stack` into (column, value) pairs in the same
    map task, so profiling k columns costs one pass, not k (the naive
    per-column loop re-reads the table k times; at 100 TB that is the
    whole game). Then one exchange of ≤ k·2^p (column, bucket,
    max-rank) rows (map-side partial max) and a k·2^p-row final
    aggregate — the classic mergeable-sketch economics; accuracy ≈
    1.04/√2^p (~4.6% at p=9)."""
    from pyspark.sql import functions as F

    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    stack_args = ", ".join(
        f"'{c}', CAST(`{c}` AS STRING)" for c in cols
    )
    pairs = df.select(
        F.expr(f"stack({len(cols)}, {stack_args}) AS (column, v)")
    ).filter(F.col("v").isNotNull())
    hi, lo = phash.parts(F.col("v"))
    per_bucket = (
        pairs.select(
            "column",
            (hi % F.lit(m)).alias("bucket"),
            _rank_ladder(lo).alias("rank"),
        )
        .groupBy("column", "bucket")
        .agg(F.max("rank").alias("r"))
    )
    agg = per_bucket.groupBy("column").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("s"),
        F.count(F.lit(1)).alias("b_present"),
    )
    # empty buckets contribute 2^0 = 1 each; zeros drives the
    # small-range linear-counting correction
    return (
        agg.select(
            "column",
            F.col("s"),
            (F.lit(m) - F.col("b_present")).alias("zeros"),
        )
        .select(
            "column",
            (F.lit(alpha * m * m) / (F.col("s") + F.col("zeros"))).alias("e_raw"),
            "zeros",
        )
        .select(
            "column",
            F.round(
                F.when(
                    (F.col("e_raw") <= F.lit(2.5 * m)) & (F.col("zeros") > 0),
                    F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros")),
                ).otherwise(F.col("e_raw")),
                4,
            ).alias("est_distinct"),
        )
    )


def equi_width_histogram(
    df: DataFrame,
    col: str,
    n_buckets: int = 20,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Exact equi-width histogram of a numeric column: the distribution
    readout behind data-profiling dashboards and skew triage.

    One tiny min/max aggregate (two scalars to the driver, skipped when
    the caller supplies bounds) followed by one map-side bucket
    assignment + hash aggregate — two scans total, no sort, no window,
    state O(n_buckets). The deliberate contrast is Spark's own
    ``approxQuantile`` (sketch-based, engine-private): this profile is a
    pure function of the data, so it is value-hash-checkable in any
    engine — same trade as `hll_distinct` vs `approx_count_distinct`.

    Returns (bucket, bucket_lo, bucket_hi, n) with the top bucket closed
    (max lands in bucket n_buckets-1), nulls dropped.
    """
    x = F.col(col).cast("double")
    if lo is None or hi is None:
        row = df.agg(F.min(x).alias("lo"), F.max(x).alias("hi")).collect()[0]
        if row["lo"] is None or row["hi"] is None:  # empty / all-null column
            return df.sparkSession.createDataFrame(
                [], "bucket long, bucket_lo double, bucket_hi double, n long"
            )
        lo = float(row["lo"]) if lo is None else lo
        hi = float(row["hi"]) if hi is None else hi
    if hi <= lo:  # degenerate: all values identical -> single bucket
        return (
            df.na.drop(subset=[col])
            .groupBy()
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.lit(0).cast("long").alias("bucket"),
                F.lit(float(lo)).alias("bucket_lo"),
                F.lit(float(hi)).alias("bucket_hi"),
                "n",
            )
        )
    span = hi - lo
    # clamp BOTH ends: with caller-supplied bounds, out-of-range values
    # land in the edge buckets instead of minting bins outside [lo, hi]
    bucket = F.greatest(
        F.least(
            F.floor((x - F.lit(lo)) * n_buckets / F.lit(span)).cast("long"),
            F.lit(n_buckets - 1).cast("long"),
        ),
        F.lit(0).cast("long"),
    )
    return (
        df.na.drop(subset=[col])
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            F.round(F.lit(lo) + F.col("bucket") * F.lit(span) / n_buckets, 6).alias(
                "bucket_lo"
            ),
            F.round(
                F.lit(lo) + (F.col("bucket") + 1) * F.lit(span) / n_buckets, 6
            ).alias("bucket_hi"),
            "n",
        )
    )


def pseudonymize(
    df: DataFrame,
    cols: list[str],
    salt: str,
) -> DataFrame:
    """Deterministic keyed pseudonymization: each listed column is
    replaced by ``md5(salt || value)`` (NULLs stay NULL) — the
    privacy-preserving release form that still JOINS: the same value
    under the same salt maps to the same token in every table and every
    run, so pseudonymized fact/dim datasets remain linkable without
    exposing raw identifiers. Rotating the salt severs linkage to past
    releases (the GDPR re-keying pattern); brute-forceable low-entropy
    domains need the salt kept secret, exactly like an HMAC key.

    Map-only (one md5 expression per column, codegen'd) at any scale.
    Columns are replaced in place — emitting raw and token side by side
    would defeat the point.
    """
    out = df
    for c in cols:
        token = F.when(
            F.col(c).isNotNull(),
            F.md5(F.concat(F.lit(salt), F.col(c).cast("string")).cast("binary")),
        )
        out = out.withColumn(c, token)
    return out


def k_anonymity_audit(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """k-anonymity audit (Sweeney 2002): every quasi-identifier
    combination shared by FEWER than ``k`` rows is a re-identification
    risk — the linkage-attack surface a training corpus inherits when
    metadata columns (language, source, geo, time bucket) ride along
    with user-derived text. Returns one row per equivalence class with
    its size and violation flag, so the caller can quantify risk
    (violating classes / rows at risk) or feed `k_suppress`.

    Plan: ONE hash aggregate over the quasi columns — the output is
    bounded by distinct quasi combinations, never rows; at 100 TB this
    is a partial-combine count per class, the cheapest possible audit.
    NULL quasi values form their own class (standard k-anonymity
    treatment: NULL is an observable value to a linker)."""
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("class_size"))
        .withColumn("violates_k", (F.col("class_size") < k).cast("boolean"))
    )


def k_suppress(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """Suppression to k-anonymity: rows whose quasi-identifier class
    has fewer than ``k`` members get those columns NULLED (cell
    suppression — the simplest generalization operator); all other
    rows pass through untouched. After suppression every surviving
    non-NULL class has ≥ k members, and the suppressed rows merge into
    the all-NULL class.

    Plan: the class-size relation is the audit's one aggregate,
    broadcast back onto the fact keyed by the quasi tuple — map-side
    annotate + conditional NULL-out, no fact-side shuffle beyond the
    audit's own. The broadcast is bounded by distinct quasi
    combinations; if that ever approaches fact scale the columns are
    not quasi-identifiers but keys, and suppression is the wrong tool."""
    sizes = k_anonymity_audit(df, quasi_cols, k).select(
        *[F.col(c).alias(f"_q_{c}") for c in quasi_cols], "violates_k"
    )
    # null-safe join: a NULL quasi value is an equivalence class too,
    # and a plain equi-join would silently skip it (its violates_k
    # would read NULL -> row passes through unsuppressed)
    cond = F.lit(True)
    for c in quasi_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_q_{c}"))
    out = df.join(F.broadcast(sizes), cond, "left")
    for c in quasi_cols:
        out = out.withColumn(
            c, F.when(F.col("violates_k"), F.lit(None)).otherwise(F.col(c))
        )
    return out.drop("violates_k", *[f"_q_{c}" for c in quasi_cols])


def dp_noisy_counts(
    df: DataFrame,
    group_cols: list[str],
    epsilon: float = 1.0,
    *,
    seed: str,
) -> DataFrame:
    """Deterministically-seeded noisy count release (Laplace mechanism,
    sensitivity 1): each group's count is published as
    count + Lap(1/epsilon) -- the (epsilon, 0)-DP histogram shape for
    sharing corpus composition stats without exposing exact membership
    counts.

    ``seed`` is REQUIRED and must be a FRESH SECRET per real release:
    the noise draw is a deterministic function of (seed, group key) --
    u from the md5 of (seed || key), Laplace via the inverse CDF
    -(1/eps)*sign(u-0.5)*ln(1-2*abs(u-0.5)) -- so anyone who knows or
    can guess the seed can subtract the noise exactly and the DP
    guarantee is VOID. Determinism WITHIN a release (same seed) is what
    makes re-runs, backfills, and the DuckDB oracle reproduce the
    release bit-for-bit; determinism ACROSS releases (reused seed)
    leaks. There is deliberately no default seed so a caller cannot
    ship a release without choosing one.

    Scale: one partial-aggregable groupBy; the noise is a map-only
    expression over the aggregated (tiny) relation. Only the noisy
    value leaves the operator -- never the true count."""
    key = F.concat_ws(
        "", F.lit(seed), *[F.col(c).cast("string") for c in group_cols]
    )
    u = phash.uniform(key)
    s = u - F.lit(0.5)
    noise = (
        -F.lit(1.0 / epsilon)
        * F.signum(s)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(s))
    )
    return (
        df.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("_true"))
        .select(
            *group_cols,
            F.round(F.col("_true") + noise, 4).alias("noisy_count"),
        )
    )


def l_diversity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 3,
) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the
    homogeneity-attack complement to :func:`k_anonymity_audit`: a
    quasi-identifier class can satisfy k-anonymity yet still leak if
    every row in it shares the same sensitive value. A class is
    l-diverse when it contains at least ``l`` DISTINCT sensitive
    values; classes below ``l`` are flagged.

    Plan: one hash aggregate grouped by the quasi columns with a
    count-distinct on the sensitive column (Expand-planned, still one
    pass); output is bounded by distinct quasi combinations. NULL
    sensitive values count as a value (observable to an attacker),
    via the NULL-bucket flag folded into the distinct count."""
    distinct_vals = F.count_distinct(F.col(sensitive_col)) + F.max(
        F.col(sensitive_col).isNull().cast("int")
    )
    return (
        df.groupBy(*quasi_cols)
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            distinct_vals.cast("long").alias("n_sensitive_values"),
        )
        .withColumn(
            "violates_l", (F.col("n_sensitive_values") < l).cast("boolean")
        )
    )


def _poisson1_thresholds(max_k: int = 8) -> list[float]:
    """Cumulative Poisson(1) CDF thresholds c_0..c_{max_k-1}; a uniform
    u maps to the smallest k with u < c_k (u beyond the last threshold
    maps to max_k). Shared literal table for Spark and the oracle."""
    import math

    acc, out = 0.0, []
    for k in range(max_k):
        acc += math.exp(-1.0) / math.factorial(k)
        out.append(acc)
    return out


def bootstrap_ci(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    replicates: int = 32,
    seed: str = "boot",
) -> DataFrame:
    """Poisson-bootstrap confidence intervals for per-group means — the
    distributed bootstrap (each row independently receives a
    Poisson(1) weight per replicate, approximating multinomial
    resampling without any global coordination; the trick that makes
    bootstrap CIs computable in one pass over 100 TB). Weights come
    from the md5-uniform inverse-CDF ladder, so every replicate is
    deterministic and the whole procedure replays in SQL.

    Plan: rows explode x``replicates`` (map-only), one (group,
    replicate) weighted-mean aggregate, then one group aggregate that
    sorts the replicate means (an array of ``replicates`` scalars per
    group) and reads the 2.5/97.5 percentile ranks. Returns
    (group, mean, ci_lo, ci_hi, n)."""
    th = _poisson1_thresholds()
    rep = F.explode(F.sequence(F.lit(0), F.lit(replicates - 1))).alias("rep")
    rows = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("double").alias("x"),
        F.col(id_col).cast("string").alias("_rid"),
        rep,
    )
    u = phash.uniform(
        F.concat_ws(":", F.lit(seed), F.col("rep").cast("string"), F.col("_rid"))
    )
    w = F.lit(len(th))
    for k in range(len(th) - 1, -1, -1):
        w = F.when(u < F.lit(th[k]), F.lit(k)).otherwise(w)
    per_rep = (
        rows.withColumn("w", w.cast("double"))
        .groupBy("grp", "rep")
        .agg(
            (F.sum(F.col("w") * F.col("x")) / F.sum("w")).alias("rep_mean")
        )
    )
    point = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.avg(F.col(value_col).cast("double")).alias("mean"),
        F.count(F.lit(1)).alias("n"),
    )
    lo_idx = max(1, int(replicates * 0.025))
    hi_idx = min(replicates, int(replicates * 0.975) + 1)
    cis = per_rep.groupBy("grp").agg(
        F.element_at(
            F.array_sort(F.collect_list("rep_mean")), lo_idx
        ).alias("ci_lo"),
        F.element_at(
            F.array_sort(F.collect_list("rep_mean")), hi_idx
        ).alias("ci_hi"),
    )
    return point.join(cis, "grp").select(
        F.col("grp").alias(group_col),
        F.round("mean", 6).alias("mean"),
        F.round("ci_lo", 6).alias("ci_lo"),
        F.round("ci_hi", 6).alias("ci_hi"),
        "n",
    )


def hll_sketch(df: DataFrame, col: str, p: int = 9) -> DataFrame:
    """Materialize the portable-HLL sketch of a column as a (bucket,
    max-rank) relation — the MERGEABLE form (2^p rows at most). Sketch
    once per partition/day/source, store it, and answer any later
    union-cardinality question without rescanning the data: merging is
    a per-bucket MAX, the property that makes sketches the unit of
    exchange in a 100 TB profiling pipeline."""
    m = 1 << p
    vals = df.select(F.col(col).cast("string").alias("v")).filter(
        F.col("v").isNotNull()
    )
    hi, lo = phash.parts(F.col("v"))
    return (
        vals.select((hi % F.lit(m)).alias("bucket"), _rank_ladder(lo).alias("rank"))
        .groupBy("bucket")
        .agg(F.max("rank").alias("r"))
    )


def hll_union_estimate(sketches: list[DataFrame], p: int = 9) -> DataFrame:
    """Cardinality of the UNION from already-built sketches: per-bucket
    max across sketch relations (a lossless merge — identical to
    sketching the concatenated data), then the standard harmonic
    estimate with linear-counting correction. Never touches the
    original rows."""
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    per_bucket = merged.groupBy("bucket").agg(F.max("r").alias("r"))
    agg = per_bucket.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("s"),
        F.count(F.lit(1)).alias("b_present"),
    )
    return (
        agg.select(
            (F.lit(m) - F.col("b_present")).alias("zeros"),
            (F.lit(alpha * m * m) / (F.col("s") + F.lit(m) - F.col("b_present"))).alias(
                "e_raw"
            ),
        )
        .select(
            F.round(
                F.when(
                    (F.col("e_raw") <= F.lit(2.5 * m)) & (F.col("zeros") > 0),
                    F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros")),
                ).otherwise(F.col("e_raw")),
                4,
            ).alias("est_union_distinct")
        )
    )


def luhn_valid(col: Column) -> Column:
    """Luhn mod-10 checksum validity of a digit-string column — the
    check that separates a REAL payment-card number from a random digit
    run, which is what turns regex PII detection (ops/text.py
    redact_pii finds digit shapes) into low-false-positive PII
    *classification*. Pure fused array expression: reverse the chars,
    double every second digit from the right (subtracting 9 on
    overflow), sum, mod 10 — zero Python, rides whole-stage codegen at
    scan bandwidth. NULL/short inputs (< 13 digits, below any real
    PAN) are invalid."""
    digits = F.transform(F.reverse(F.split(col, "")), lambda c: c.cast("int"))
    idx = F.sequence(F.lit(0), F.size(digits) - 1)
    terms = F.zip_with(
        digits,
        idx,
        lambda d, i: F.when(
            i % 2 == 1, F.when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)
        ).otherwise(d),
    )
    total = F.aggregate(terms, F.lit(0), lambda a, x: a + x)
    return (
        col.isNotNull()
        & (F.length(col) >= 13)
        & col.rlike("^[0-9]+$")
        & (total % 10 == 0)
    )


def luhn_check_digit(base: Column) -> Column:
    """The digit d making ``base || d`` Luhn-valid (ISO/IEC 7812 issue
    side): the appended digit takes rightmost position, shifting every
    base digit one position left — so doubling applies at EVEN reversed
    indices of the base. Used by tests/oracles to PLANT known-valid and
    known-invalid numbers; same fused-expression economics as
    :func:`luhn_valid`."""
    digits = F.transform(F.reverse(F.split(base, "")), lambda c: c.cast("int"))
    idx = F.sequence(F.lit(0), F.size(digits) - 1)
    terms = F.zip_with(
        digits,
        idx,
        lambda d, i: F.when(
            i % 2 == 0, F.when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)
        ).otherwise(d),
    )
    total = F.aggregate(terms, F.lit(0), lambda a, x: a + x)
    return (10 - total % 10) % 10


def cohen_kappa(
    df: DataFrame,
    a_col: str,
    b_col: str,
    *,
    max_categories: int = 10_000,
) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two raters
    (label pipelines, annotator pools, a heuristic vs a model) over the
    same items: kappa = (p_o - p_e) / (1 - p_e) where p_o is observed
    agreement and p_e the agreement two INDEPENDENT raters with these
    marginals would reach by luck. The labeled-data QC gate: raw
    agreement flatters any skewed label distribution; kappa doesn't.

    Distributed shape: the item table collapses to the k x k confusion
    relation in one hash aggregate; p_o is a conditional sum over it,
    p_e an inner join of the two k-row marginals on category — every
    post-collapse relation is category-sized, nothing row-sized moves
    after the first pass. A guard bounds k (a continuous "category"
    is a caller bug and fails loudly).

    Returns one row: (n, po, pe, kappa), rounded to 6 places.
    """
    from hudi_utility_spark.ops.mlfit import require_bounded_distinct

    pairs = df.groupBy(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    pairs = require_bounded_distinct(
        pairs,
        max_categories,
        "cohen_kappa",
        "rater columns must be categorical; bucket continuous labels first",
    )
    tot = pairs.agg(
        F.sum("cnt").cast("double").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("cnt")).otherwise(0))
        .cast("double")
        .alias("agree"),
    )
    ma = pairs.groupBy(F.col("a").alias("cat")).agg(
        F.sum("cnt").alias("na")
    )
    mb = pairs.groupBy(F.col("b").alias("cat")).agg(
        F.sum("cnt").alias("nb")
    )
    cross = ma.join(mb, "cat").agg(
        F.sum(F.col("na") * F.col("nb")).cast("double").alias("cross_sum")
    )
    po = F.col("agree") / F.col("n")
    pe = F.col("cross_sum") / (F.col("n") * F.col("n"))
    return tot.crossJoin(F.broadcast(cross)).select(
        F.col("n").cast("long").alias("n"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (1 - pe), 6).alias("kappa"),
    )


def benford_profile(
    df: DataFrame,
    value_col: str,
    *,
    min_value: float = 1e-12,
) -> DataFrame:
    """Benford first-significant-digit audit — the classic fabricated-
    numbers screen for financial/measurement columns: observed digit
    shares vs Benford's log10(1 + 1/d) expectation, plus the feature-
    level chi-squared statistic sum((obs - exp)^2 / exp) repeated per
    row. Values at or below ``min_value`` are excluded (the law applies
    to positive magnitudes spanning scale).

    The first significant digit is floor(v / 10^floor(log10 v)) — pure
    codegen arithmetic, no string round-trip; facts collapse to the
    9-row digit relation in one aggregate, everything after is
    window math over 9 rows.

    Returns per digit: (digit, n, share, expected, chi2).
    """
    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    digits = df.filter(v > min_value).select(
        F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v))))
        .cast("int")
        .alias("digit")
    )
    per_digit = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    # full 1..9 spine: an absent digit is EVIDENCE (its chi2 term is
    # N*expected), so it must appear as n=0, not vanish from the test
    spine = df.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    per_digit = spine.join(per_digit, "digit", "left").select(
        "digit", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # "nt", not "N": Spark resolves case-insensitively by default, so
    # withColumn("N", ...) would silently REPLACE the per-digit "n"
    tot = per_digit.withColumn("nt", F.sum("n").over(w))
    expected = F.log10(1.0 + 1.0 / F.col("digit"))
    share = F.col("n") / F.col("nt")
    contrib = (
        (F.col("n") - F.col("nt") * expected)
        * (F.col("n") - F.col("nt") * expected)
        / (F.col("nt") * expected)
    )
    return tot.select(
        F.col("digit").cast("long").alias("digit"),
        F.col("n").cast("long").alias("n"),
        F.round(share, 6).alias("share"),
        F.round(expected, 6).alias("expected"),
        F.round(F.sum(contrib).over(w), 6).alias("chi2"),
    )


def t_closeness_audit(
    df: DataFrame,
    qi_cols: list[str],
    sensitive_col: str,
    m: int,
    t: float = 0.2,
) -> DataFrame:
    """t-closeness audit (Li et al. 2007) — the distributional member of
    the anonymity triad (k-anonymity bounds class size, l-diversity
    bounds distinct sensitive values, t-closeness bounds how far a
    class's sensitive DISTRIBUTION may drift from the global one): per
    QI class, the ordinal Earth-Mover's Distance
    EMD = Σ_j |CumP_class(j) − CumP_global(j)| / (m−1) over the ``m``
    ordered sensitive buckets (values 0..m−1), flagged when > ``t``.

    Shape: one (QI, bucket) hash aggregate; the global CDF is m scalars
    collected once and re-entering as a literal map (codebook idiom);
    the per-class cumulative window partitions by the QI key — m rows
    per partition, never global. Missing buckets materialize as zero
    counts via a per-class sequence explode, so the CDF is total."""
    from pyspark.sql import Window, functions as F

    per = df.groupBy(*qi_cols, sensitive_col).agg(
        F.count(F.lit(1)).alias("c")
    )
    classes = df.groupBy(*qi_cols).agg(F.count(F.lit(1)).alias("class_size"))
    grid = classes.select(
        *qi_cols,
        "class_size",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("b"),
    ).join(
        per.withColumnRenamed(sensitive_col, "b"),
        [*qi_cols, "b"],
        "left",
    ).fillna({"c": 0})
    # global CDF: m scalars -> literal map
    gtot = df.count()
    gcounts = {
        int(r[0]): r[1]
        for r in df.groupBy(sensitive_col).agg(F.count(F.lit(1))).collect()
    }
    gcum, acc = {}, 0
    for b in range(m):
        acc += gcounts.get(b, 0)
        gcum[b] = acc / gtot
    gmap = F.create_map(
        *[F.lit(v) for b in range(m) for v in (b, float(gcum[b]))]
    )
    w = Window.partitionBy(*qi_cols).orderBy("b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cdf = grid.select(
        *qi_cols,
        "class_size",
        "b",
        (F.sum("c").over(w) / F.col("class_size")).alias("cp"),
        gmap[F.col("b")].alias("gp"),
    )
    return (
        cdf.groupBy(*qi_cols, "class_size")
        .agg(
            F.round(
                F.sum(F.abs(F.col("cp") - F.col("gp"))) / F.lit(float(m - 1)),
                6,
            ).alias("emd")
        )
        .select(
            *qi_cols,
            F.col("class_size").cast("long").alias("class_size"),
            "emd",
            (F.col("emd") > F.lit(float(t))).alias("violates_t"),
        )
    )
