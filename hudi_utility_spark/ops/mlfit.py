"""Grouped model fitting via ``applyInPandas`` — the Arrow grouped-map
surface (SURVEY §2.10 names the full UDF family; this is the member the
rest of the engine deliberately avoids when built-ins suffice).

The demo kernel is a closed-form per-group ordinary-least-squares fit,
chosen BECAUSE it is deterministic and SQL-expressible (DuckDB
``regr_slope``/``regr_intercept``) — so even the Python-kernel path
stays under the value-hash oracle gate. A real deployment swaps the
kernel body for sklearn/statsmodels/torch per group; the Spark-side
plumbing (hash-shuffle by group, one Arrow batch per group, schema
contract) is exactly what is exercised here.

Scale: one shuffle keyed by the group column; per-task memory is the
largest single group (the applyInPandas contract — a group must fit in
one worker). Groups ≫ cores parallelize perfectly; a dominant group is
the same skew hazard as any groupBy and salts the same way (fit on
salted subgroups, merge moments).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def group_linear_fit(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group OLS ``y = slope·x + intercept`` via grouped-map
    ``applyInPandas``: returns (group, n, slope, intercept, r2).

    Kernel math is the centered closed form in float64 — the same
    moments DuckDB's ``regr_*`` aggregates compute, so results agree to
    rounding. NaNs/nulls in either column are dropped per group (as the
    SQL aggregates do)."""
    schema = T.StructType(
        [
            T.StructField("group", T.StringType(), False),
            T.StructField("n", T.LongType(), False),
            T.StructField("slope", T.DoubleType(), True),
            T.StructField("intercept", T.DoubleType(), True),
            T.StructField("r2", T.DoubleType(), True),
        ]
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        sub = pdf[[group_col, x_col, y_col]].dropna()
        g = str(pdf[group_col].iloc[0])
        n = len(sub)
        if n < 2:
            return pd.DataFrame(
                {"group": [g], "n": [n], "slope": [None], "intercept": [None], "r2": [None]}
            )
        x = sub[x_col].to_numpy(dtype="float64")
        y = sub[y_col].to_numpy(dtype="float64")
        xm, ym = x.mean(), y.mean()
        sxx = ((x - xm) ** 2).sum()
        sxy = ((x - xm) * (y - ym)).sum()
        syy = ((y - ym) ** 2).sum()
        slope = sxy / sxx if sxx else None
        intercept = ym - slope * xm if slope is not None else None
        r2 = (sxy * sxy) / (sxx * syy) if sxx and syy else None
        return pd.DataFrame(
            {
                "group": [g],
                "n": [n],
                "slope": [slope],
                "intercept": [intercept],
                "r2": [r2],
            }
        )

    return df.groupBy(group_col).applyInPandas(fit, schema=schema)


def trimmed_mean_agg(
    df: DataFrame,
    group_col: str,
    value_col: str,
    trim: float = 0.1,
) -> DataFrame:
    """Per-group trimmed mean via a GROUPED_AGG ``pandas_udf`` — the
    vectorized custom-aggregate member of the §2.10 UDF matrix (scalar
    pandas_udf, grouped-map `group_linear_fit`, mapInPandas multimodal,
    applyInPandasWithState EWMA are the others). Drops the lowest and
    highest ``floor(n·trim)`` values per group, then means the middle —
    the robust-location statistic quality dashboards use when outliers
    poison a plain AVG.

    Chosen (like the OLS kernel) because it is deterministic and
    SQL-expressible — rank-window + AVG in the oracle — so the Arrow
    UDAF path itself sits under the value-hash gate. Execution is a
    hash aggregate keyed by the group with the UDAF evaluated per
    group over Arrow batches: one shuffle, per-task state bounded by
    the largest group's values (same contract as any grouped-agg
    pandas UDF; a dominant group salts like any groupBy skew).
    """
    import numpy as np
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def _tmean(v: pd.Series) -> float:
        vals = np.sort(v.dropna().to_numpy(dtype="float64"))
        n = vals.size
        if n == 0:
            return float("nan")
        k = int(n * trim)
        return float(np.mean(vals[k : n - k])) if n - 2 * k > 0 else float("nan")

    # Spark forbids mixing GROUPED_AGG pandas UDFs with JVM aggregates
    # in one agg, so the count rides the same Arrow path
    @F.pandas_udf("long")
    def _n(v: pd.Series) -> int:
        return int(v.notna().sum())

    return df.groupBy(group_col).agg(
        _n(value_col).alias("n"), _tmean(value_col).alias("trimmed_mean")
    )


def compile_tree(tree: dict):
    """Compile a decision-tree dict into a single nested CASE Column —
    GBM/random-forest INFERENCE as a pure Catalyst expression (the
    operator-fusion trick: scoring shallow tree ensembles needs no UDF,
    no model server, no Python worker — it rides whole-stage codegen at
    scan bandwidth). Node spec: ``{"feature": col, "threshold": t,
    "left": <node>, "right": <node>}`` (left = feature < threshold,
    NULLs fall right, XGBoost-style); leaf spec: ``{"leaf": value}``.
    """
    from pyspark.sql import functions as F

    if "leaf" in tree:
        return F.lit(float(tree["leaf"]))
    cond = F.col(tree["feature"]) < F.lit(float(tree["threshold"]))
    return F.when(cond, compile_tree(tree["left"])).otherwise(
        compile_tree(tree["right"])
    )


def tree_sql(tree: dict) -> str:
    """The same tree as ANSI SQL (oracle mirror of :func:`compile_tree`
    — identical branch structure and literal arithmetic)."""
    if "leaf" in tree:
        return f"CAST({float(tree['leaf'])} AS DOUBLE)"
    return (
        f"CASE WHEN {tree['feature']} < CAST({float(tree['threshold'])} AS DOUBLE) "
        f"THEN {tree_sql(tree['left'])} ELSE {tree_sql(tree['right'])} END"
    )


def ensemble_score(df: DataFrame, trees: list[dict], out_col: str = "score"):
    """Sum-of-trees ensemble score as one fused expression column."""
    from functools import reduce

    from pyspark.sql import functions as F

    total = reduce(lambda a, t: a + compile_tree(t), trees, F.lit(0.0))
    return df.withColumn(out_col, total)


def logistic_fit(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    iters: int = 3,
    lr: float = 0.5,
    round_to: int = 6,
) -> list[float]:
    """Batch-gradient-descent logistic regression as pure dataflow:
    each iteration is ONE map-side-partial aggregate over the corpus
    (d+2 running sums), followed by a (d+1)-scalar collect and a
    driver-side weight update. No per-row Python, no cached matrices —
    at 100 TB an iteration costs one scan with partial combine, and the
    driver traffic is d+1 doubles per iteration (the same scalar-only
    collect discipline as k-means init / PageRank rank totals).

    Weights are quantized to ``round_to`` decimals after every update so
    independent engines running the same recipe (see the
    ``ml_logreg_quality`` oracle: the identical schedule as nested SQL
    CTEs) stay bit-aligned — cross-engine float-sum order differences
    land around 1e-15 and are absorbed by the quantization.

    Returns ``[bias, w_1, ..., w_d]`` after ``iters`` updates from an
    all-zeros start.
    """
    from pyspark.sql import functions as F

    d = len(feature_cols)
    w = [0.0] * (d + 1)
    for _ in range(iters):
        z = F.lit(w[0])
        for j, c in enumerate(feature_cols):
            z = z + F.lit(w[j + 1]) * F.col(c)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        err = p - F.col(label_col)
        aggs = [F.sum(err).alias("g0")] + [
            F.sum(err * F.col(c)).alias(f"g{j + 1}")
            for j, c in enumerate(feature_cols)
        ]
        row = df.agg(*aggs, F.count(F.lit(1)).alias("n")).collect()[0]
        n = row["n"]
        w = [
            round(w[j] - lr * row[f"g{j}"] / n, round_to)
            for j in range(d + 1)
        ]
    return w


def ols2_normal_equations(
    df: DataFrame,
    y_col: str,
    x1_col: str,
    x2_col: str,
    lam: float = 0.0,
) -> DataFrame:
    """Two-feature OLS (y = b0 + b1*x1 + b2*x2) via normal equations
    solved in CLOSED FORM — multiple regression as pure dataflow: ONE
    partial-aggregable pass collects the sufficient statistics (nine
    sums), and Cramer's rule over the 3x3 system runs as plain column
    arithmetic on the single stats row. No Python, no matrix library,
    no iteration; at 100 TB the cost is one scan + a 9-scalar exchange
    (the textbook "aggregate sufficient statistics" pattern —
    group_linear_fit's grouped-map Arrow kernel is the per-group
    many-models complement; this is the one-global-model dataflow).

    Returns one row: (n, b0, b1, b2, r2) rounded to 6. The identical
    determinant expressions replay in the DuckDB oracle, so the solve
    is value-hash-checked rather than trusted to a solver."""
    from pyspark.sql import functions as F

    y, x1, x2 = (F.col(c).cast("double") for c in (y_col, x1_col, x2_col))
    s = df.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x1).alias("s1"),
        F.sum(x2).alias("s2"),
        F.sum(y).alias("sy"),
        F.sum(x1 * x1).alias("s11"),
        F.sum(x1 * x2).alias("s12"),
        F.sum(x2 * x2).alias("s22"),
        F.sum(x1 * y).alias("s1y"),
        F.sum(x2 * y).alias("s2y"),
        F.sum(y * y).alias("syy"),
    )
    n, s1, s2, sy = F.col("n"), F.col("s1"), F.col("s2"), F.col("sy")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    s1y, s2y, syy = F.col("s1y"), F.col("s2y"), F.col("syy")
    # ridge: lam > 0 adds L2 shrinkage on the WEIGHTS only (intercept
    # unpenalized) — the normal-equation diagonal gains lam and the same
    # Cramer expressions solve (X'X + lam*diag(0,1,1)) b = X'y. lam=0 is
    # exact OLS; reported r2 is the training fit of the shrunk weights.
    if lam:
        s11 = s11 + F.lit(float(lam))
        s22 = s22 + F.lit(float(lam))
    # Cramer over [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]] b = [sy,s1y,s2y]
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    d0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    d1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    d2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    b0, b1, b2 = d0 / det, d1 / det, d2 / det
    sse = (
        syy
        - 2 * (b0 * sy + b1 * s1y + b2 * s2y)
        + (
            b0 * b0 * n
            + b1 * b1 * s11
            + b2 * b2 * s22
            + 2 * (b0 * b1 * s1 + b0 * b2 * s2 + b1 * b2 * s12)
        )
    )
    sst = syy - sy * sy / n
    return s.select(
        n.cast("long").alias("n"),
        F.round(b0, 6).alias("b0"),
        F.round(b1, 6).alias("b1"),
        F.round(b2, 6).alias("b2"),
        # r2 at 6dp is ulp-noise when the fit is near-zero (1 - sse/sst
        # is a difference of ~1.0 quantities whose inputs are engine-
        # order-dependent e12-scale sums); 4dp absorbs it (sf0.001 repro).
        # + 0.0 pins the zero's sign: a ~-1e-16 residual difference
        # rounds to -0.0, which hash normalizers format != 0 (r9 class).
        (F.round(1 - sse / sst, 4) + F.lit(0.0)).alias("r2"),
    )


def require_bounded_distinct(
    df: DataFrame, max_distinct: int, context: str, hint: str
) -> DataFrame:
    """Cardinality guard for the collapse-then-window pattern: several
    exact order statistics here (tie-aware AUC, the KS D-statistic)
    collapse facts to per-distinct-value counts and then run ONE global
    ordered window over that collapsed relation. That is only a scale
    win while the collapsed relation is small — a continuous
    double-precision score collapses to ~n rows and would silently
    serialize a single-partition window sort. This guard pays one
    aggregate-sized count() and fails LOUDLY with the quantization
    escape hatch instead. ``df`` must already be the collapsed
    (per-distinct-value) relation."""
    n = df.count()
    if n > max_distinct:
        raise ValueError(
            f"{context}: {n} distinct values exceeds the "
            f"single-partition-window budget of {max_distinct}; {hint}"
        )
    return df


def tie_aware_auc(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    *,
    max_distinct: int = 1_000_000,
    quantize_bins: int | None = None,
) -> DataFrame:
    """Distributed tie-aware AUC (Mann-Whitney U via average ranks)
    over any (score, label) relation: rows collapse to per-distinct-
    score (pos, neg, cnt) FIRST — one hash aggregate — so the ranking
    window runs over score cardinality, never rows. Exact half-integer
    rank arithmetic; returns one row (n_pos, n_neg, auc).

    The bounded-cardinality guard and the quantization escape hatch
    exist because a continuous score makes "collapse first" a no-op.

    Continuous scores are the failure mode: their distinct count is
    ~row count and the global ordered window would quietly become a
    single-partition sort of the fact table. Two defenses, both
    explicit: ``quantize_bins`` min-max-buckets the score into that
    many equi-width bins before ranking (rank-order preserving within
    the bin resolution — the standard monotone quantization, costs one
    2-scalar agg), and ``max_distinct`` hard-fails when the collapsed
    relation is still too large. No silent fallback."""
    from pyspark.sql import functions as F

    per_score = _collapse_scored(
        scored,
        score_col,
        label_col,
        max_distinct=max_distinct,
        quantize_bins=quantize_bins,
        context="tie_aware_auc",
    )
    agg = _rank_sum_agg(
        per_score,
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
    )
    return agg.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.round(
            (F.col("rank_sum") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0)
            / (F.col("n_pos") * F.col("n_neg").cast("double")),
            6,
        ).alias("auc"),
    )


def pr_curve(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    *,
    max_distinct: int = 1_000_000,
    quantize_bins: int | None = None,
) -> DataFrame:
    """Precision/recall/F1 at EVERY distinct decision threshold — the
    threshold-sweep companion to :func:`tie_aware_auc` (AUC answers
    "does the score separate"; the PR curve answers "where do I put the
    cutoff"). Same scale shape: facts collapse to per-distinct-score
    (pos, neg) counts in one hash aggregate, then a single descending
    cumulative window over the COLLAPSED relation yields tp/fp for the
    rule "predict positive when score >= threshold" — the window runs
    over score cardinality, never rows, and the same bounded-
    cardinality guard + ``quantize_bins`` escape hatch apply.

    Returns one row per threshold: (threshold, tp, fp, precision,
    recall, f1), zero-filled (not NULL/NaN) when a cutoff admits no
    predictions so both engines agree on the degenerate top bin.
    """
    from pyspark.sql import Window, functions as F

    per_score = _collapse_scored(
        scored,
        score_col,
        label_col,
        max_distinct=max_distinct,
        quantize_bins=quantize_bins,
        context="pr_curve",
    )
    w = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = per_score.agg(F.sum("pos").cast("double").alias("n_pos"))
    cum = per_score.select(
        F.col("score").alias("threshold"),
        F.sum("pos").over(w).alias("tp"),
        F.sum("neg").over(w).alias("fp"),
    )
    prec = F.when(F.col("tp") + F.col("fp") == 0, F.lit(0.0)).otherwise(
        F.col("tp") / (F.col("tp") + F.col("fp")).cast("double")
    )
    rec = F.when(F.col("n_pos") == 0, F.lit(0.0)).otherwise(
        F.col("tp") / F.col("n_pos")
    )
    f1 = F.when(prec + rec == 0, F.lit(0.0)).otherwise(
        2 * prec * rec / (prec + rec)
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        "threshold",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def mann_whitney_u(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    *,
    max_distinct: int = 1_000_000,
    quantize_bins: int | None = None,
) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) with the normal
    approximation and the EXACT tie correction — the rank-based "are
    these two distributions shifted" test that pairs with the KS
    D-statistic (KS sees shape, U sees location). Identical distributed
    shape to :func:`tie_aware_auc` (U and AUC are the same statistic up
    to normalization): collapse facts to per-distinct-score counts,
    one ordered window over the collapsed relation, half-integer
    average ranks, and the tie term SUM(cnt^3 - cnt) falls out of the
    same aggregate for free. No continuity correction (both engines
    must agree bit-for-bit; document the convention instead).

    Returns one row: (n_pos, n_neg, u_stat, z_score) where u_stat is
    U for the label=1 sample.
    """
    from pyspark.sql import functions as F

    per_score = _collapse_scored(
        scored,
        score_col,
        label_col,
        max_distinct=max_distinct,
        quantize_bins=quantize_bins,
        context="mann_whitney_u",
    )
    agg = _rank_sum_agg(
        per_score,
        F.sum("pos").alias("n1"),
        F.sum("neg").alias("n2"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie_term"),
    )
    n = F.col("n1") + F.col("n2")
    u = F.col("rank_sum") - F.col("n1") * (F.col("n1") + 1) / 2.0
    mu = F.col("n1") * F.col("n2") / 2.0
    sigma = F.sqrt(
        F.col("n1")
        * F.col("n2")
        / 12.0
        * ((n + 1) - F.col("tie_term") / (n * (n - 1)).cast("double"))
    )
    return agg.select(
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n2").cast("long").alias("n_neg"),
        F.round(u, 6).alias("u_stat"),
        F.round((u - mu) / sigma, 6).alias("z_score"),
    )


def _rank_sum_agg(per_score: DataFrame, *aggs) -> DataFrame:
    """One row: the positives' rank sum ``rank_sum`` over a
    `_collapse_scored` relation, beside *aggs*. Rows tied on a score
    share its mid-rank ``cum_before + (cnt + 1) / 2``, where
    ``cum_before`` counts the rows of lower scores (one ordered window
    over the collapsed relation)."""
    from pyspark.sql import Window, functions as F

    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    ranked = per_score.withColumn(
        "cum_before", F.sum("cnt").over(w) - F.col("cnt")
    )
    return ranked.agg(
        F.sum(
            F.col("pos") * (F.col("cum_before") + (F.col("cnt") + 1) / 2.0)
        ).alias("rank_sum"),
        *aggs,
    )


def _collapse_scored(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    *,
    max_distinct: int,
    quantize_bins: int | None,
    context: str,
) -> DataFrame:
    """Shared first stage of the exact rank statistics (AUC, PR curve,
    Mann-Whitney): cast, optionally quantize (monotone equi-width bins
    — one 2-scalar agg), collapse to per-distinct-score
    (score, pos, neg, cnt) via one hash aggregate, and enforce the
    bounded-cardinality guard so a continuous score fails loudly
    instead of silently single-partition-sorting the fact table."""
    from pyspark.sql import functions as F

    scored = scored.select(
        F.col(score_col).cast("double").alias("score"),
        F.col(label_col).cast("int").alias("label"),
    )
    if quantize_bins is not None:
        if quantize_bins < 2:
            raise ValueError("quantize_bins must be >= 2")
        lo, hi = scored.agg(F.min("score"), F.max("score")).collect()[0]
        if lo is None or hi is None or hi <= lo:
            scored = scored.select(F.lit(0.0).alias("score"), "label")
        else:
            width = (hi - lo) / quantize_bins
            scored = scored.select(
                F.least(
                    F.floor((F.col("score") - F.lit(lo)) / F.lit(width)),
                    F.lit(quantize_bins - 1),
                ).cast("double").alias("score"),
                "label",
            )
    per_score = scored.groupBy("score").agg(
        F.sum("label").alias("pos"),
        (F.count(F.lit(1)) - F.sum("label")).alias("neg"),
        F.count(F.lit(1)).alias("cnt"),
    )
    # checkpoint BEFORE the guard: its eager count() materializes the
    # collapsed relation once, and every downstream pass (cumulative
    # window, totals) replays the checkpoint instead of re-running the
    # fact-table aggregate — pr_curve used to scan it three times
    # (ADVICE r8). The relation is bounded by the guard, so the
    # checkpoint is at most max_distinct rows.
    per_score = per_score.localCheckpoint(eager=False)
    return require_bounded_distinct(
        per_score,
        max_distinct,
        context,
        "pass quantize_bins=<k> to bucket the score before ranking",
    )


def woe_iv(
    binned: DataFrame,
    bin_col: str = "bin",
    label_col: str = "label",
    smoothing: float = 0.5,
) -> DataFrame:
    """Weight-of-Evidence / Information-Value profile of a BINNED
    feature against a binary label — the credit-scoring-era feature
    screen that survived into LLM data curation as "how much does this
    bucketed signal know about the label": WOE_b = ln((pos_b/POS) /
    (neg_b/NEG)), IV = sum_b (pos_b/POS - neg_b/NEG) * WOE_b, with
    additive ``smoothing`` on both counts so empty cells stay finite
    (the standard fix, applied identically in the oracle).

    One hash aggregate collapses facts to bins; totals come from an
    unpartitioned window over the BIN-sized relation; IV is a second
    window sum over the same rows. Caller chooses the binning (and
    thereby the cardinality) — fixed-width or quantile, same contract
    as the calibration-bins query.

    Returns per bin: (bin, n, pos, neg, woe, iv) — iv repeated on every
    row (it is the feature-level scalar).
    """
    from pyspark.sql import Window, functions as F

    per_bin = binned.groupBy(F.col(bin_col).alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(label_col).cast("long")).alias("pos_raw"),
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    s = F.lit(float(smoothing))
    pos = F.col("pos_raw") + s
    neg = (F.col("n") - F.col("pos_raw")) + s
    tot = per_bin.select(
        "bin",
        "n",
        pos.alias("pos"),
        neg.alias("neg"),
        F.sum(pos).over(w).alias("post"),
        F.sum(neg).over(w).alias("negt"),
    )
    woe = F.log(
        (F.col("pos") / F.col("post")) / (F.col("neg") / F.col("negt"))
    )
    contrib = (
        F.col("pos") / F.col("post") - F.col("neg") / F.col("negt")
    ) * woe
    return tot.select(
        "bin",
        F.col("n").cast("long").alias("n"),
        F.round("pos", 6).alias("pos"),
        F.round("neg", 6).alias("neg"),
        F.round(woe, 6).alias("woe"),
        F.round(F.sum(contrib).over(w), 6).alias("iv"),
    )


def target_encode_loo(
    df: DataFrame,
    category_col: str,
    label_col: str = "label",
    out_col: str = "te",
) -> DataFrame:
    """Leave-one-out target encoding: each row's category is replaced
    by the mean label of the OTHER rows in its category,
    (sum_cat - y) / (n_cat - 1) — the encoding that feeds categorical
    signals to models without the self-leakage a naive category mean
    carries (a singleton category falls back to the global prior, the
    standard convention). The leakage-free-by-construction property is
    what the pytest pins: a row's own label never influences its code.

    One category-keyed window pair (sum, count) + one global-prior
    aggregate broadcast back — no second pass over facts, no collect.
    """
    from pyspark.sql import Window, functions as F

    y = F.col(label_col).cast("double")
    w = Window.partitionBy(category_col)
    prior = df.agg(F.avg(y).alias("__prior"))
    enc = (
        df.withColumn("__sum", F.sum(y).over(w))
        .withColumn("__n", F.count(F.lit(1)).over(w))
        .crossJoin(F.broadcast(prior))
    )
    loo = F.when(
        F.col("__n") > 1, (F.col("__sum") - y) / (F.col("__n") - 1)
    ).otherwise(F.col("__prior"))
    return enc.select(
        *df.columns, F.round(loo, 6).alias(out_col)
    )


def welch_ttest(
    scored: DataFrame,
    value_col: str = "score",
    label_col: str = "label",
) -> DataFrame:
    """Welch's unequal-variance t-test — the parametric companion to
    :func:`mann_whitney_u` (U asks "is one sample shifted", Welch asks
    "do the means differ given each side's own variance"; run both,
    disagree = look at the tails). Everything derives from the six
    sufficient statistics (n, sum, sum-of-squares per group) collected
    in ONE map-side-combinable aggregate — the same sufficient-
    statistics discipline as the closed-form OLS: no second pass, no
    collect, exact sample variances via (sumsq - sum^2/n)/(n-1).

    Returns one row: (n_pos, n_neg, mean_diff, t_stat, df) with the
    Welch-Satterthwaite degrees of freedom.
    """
    from pyspark.sql import functions as F

    v = F.col(value_col).cast("double")
    is1 = F.col(label_col).cast("int") == 1
    # n counts only NON-NULL values (ADVICE r8): the sums skip NULLs,
    # so counting raw rows would deflate means/variances on null-bearing
    # inputs — n, Σv and Σv² must cover the same observations
    agg = scored.agg(
        F.sum(F.when(is1 & v.isNotNull(), 1).otherwise(0))
        .cast("double")
        .alias("n1"),
        F.sum(F.when(is1, v).otherwise(0.0)).alias("s1"),
        F.sum(F.when(is1, v * v).otherwise(0.0)).alias("q1"),
        F.sum(F.when(~is1 & v.isNotNull(), 1).otherwise(0))
        .cast("double")
        .alias("n2"),
        F.sum(F.when(~is1, v).otherwise(0.0)).alias("s2"),
        F.sum(F.when(~is1, v * v).otherwise(0.0)).alias("q2"),
    )
    m1 = F.col("s1") / F.col("n1")
    m2 = F.col("s2") / F.col("n2")
    var1 = (F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1")) / (
        F.col("n1") - 1
    )
    var2 = (F.col("q2") - F.col("s2") * F.col("s2") / F.col("n2")) / (
        F.col("n2") - 1
    )
    se1 = var1 / F.col("n1")
    se2 = var2 / F.col("n2")
    t = (m1 - m2) / F.sqrt(se1 + se2)
    dof = (se1 + se2) * (se1 + se2) / (
        se1 * se1 / (F.col("n1") - 1) + se2 * se2 / (F.col("n2") - 1)
    )
    return agg.select(
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n2").cast("long").alias("n_neg"),
        F.round(m1 - m2, 6).alias("mean_diff"),
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 6).alias("df"),
    )


def isotonic_calibrate(
    binned: DataFrame,
    bin_col: str = "bin",
    label_col: str = "label",
    *,
    max_bins: int = 1_000,
) -> DataFrame:
    """Isotonic calibration of a binned score against a binary label —
    the non-parametric monotone fit every probability calibrator
    (Platt's rival) ships: find the non-decreasing rate curve closest
    to the empirical bin rates. Instead of the SEQUENTIAL
    pool-adjacent-violators scan (hostile to data-parallel execution),
    this uses the minimax closed form

        iso(i) = max_{j<=i} min_{k>=i} mean(label[bin j..bin k])

    which is pure relational algebra over the COLLAPSED bin relation:
    one prefix-sum pass, the (j,k) pair grid (B^2 rows — so the guard
    bounds B at 1000 by default, a 10^6-row grid; facts never appear),
    a reverse running MIN per j, and a grouped MAX per i. Every mean is a ratio of exact integer
    prefix sums, so both engines agree bit-for-bit before rounding.

    Returns per bin: (bin, n, raw_rate, iso_rate), iso_rate monotone
    non-decreasing in bin order by construction.
    """
    from pyspark.sql import Window, functions as F

    per_bin = binned.groupBy(F.col(bin_col).alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(label_col).cast("long")).alias("pos"),
    )
    per_bin = require_bounded_distinct(
        per_bin, max_bins, "isotonic_calibrate", "coarsen the binning"
    )
    wp = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pref = per_bin.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(wp).alias("cn"),
        F.sum("pos").over(wp).alias("cpos"),
    )
    j = pref.select(
        F.col("bin").alias("jb"),
        (F.col("cpos") - F.col("pos")).alias("jpos_excl"),
        (F.col("cn") - F.col("n")).alias("jn_excl"),
    )
    k = pref.select(
        F.col("bin").alias("kb"),
        F.col("cpos").alias("kpos"),
        F.col("cn").alias("kn"),
    )
    pairs = j.join(k, F.col("jb") <= F.col("kb")).select(
        "jb",
        "kb",
        (
            (F.col("kpos") - F.col("jpos_excl"))
            / (F.col("kn") - F.col("jn_excl")).cast("double")
        ).alias("mean_jk"),
    )
    w_min = Window.partitionBy("jb").orderBy(F.desc("kb")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    m = pairs.select(
        "jb", "kb", F.min("mean_jk").over(w_min).alias("mjk")
    )
    iso = (
        m.filter(F.col("jb") <= F.col("kb"))
        .groupBy(F.col("kb").alias("bin"))
        .agg(F.max("mjk").alias("iso_raw"))
    )
    return (
        per_bin.join(iso, "bin")
        .select(
            "bin",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("pos") / F.col("n").cast("double"), 6).alias(
                "raw_rate"
            ),
            F.round("iso_raw", 6).alias("iso_rate"),
        )
    )


def _permutation_exprs(
    id_col: str, value_col: str, label_col: str, n_perm: int, seed_tag: str
):
    """Shared expression set of :func:`permutation_test` and
    :func:`grouped_permutation_pvalues`: the aggregate columns (grand
    totals plus an arm-1 sum and count per permutation), the observed
    mean difference over them, and the count of permutations at least
    as extreme."""
    from pyspark.sql import functions as F

    v = F.col(value_col).cast("double")
    grand = [
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(v).alias("sv"),
        F.sum(F.when(F.col(label_col).cast("int") == 1, v)).alias("sv1"),
        F.sum((F.col(label_col).cast("int") == 1).cast("long"))
        .cast("double")
        .alias("n1"),
    ]
    perms = []
    for b in range(n_perm):
        arm = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col(id_col).cast("string"),
                            F.lit(f"-{seed_tag}-{b}"),
                        )
                    ),
                    1,
                    2,
                ),
                16,
                10,
            ).cast("int")
            % 2
            == 1
        )
        perms.append(F.sum(F.when(arm, v)).alias(f"s{b}"))
        perms.append(F.sum(arm.cast("long")).cast("double").alias(f"c{b}"))
    obs = F.col("sv1") / F.col("n1") - (F.col("sv") - F.col("sv1")) / (
        F.col("n") - F.col("n1")
    )
    extreme = None
    for b in range(n_perm):
        diff_b = F.col(f"s{b}") / F.col(f"c{b}") - (
            F.col("sv") - F.col(f"s{b}")
        ) / (F.col("n") - F.col(f"c{b}"))
        hit = (F.abs(diff_b) >= F.abs(obs)).cast("int")
        extreme = hit if extreme is None else extreme + hit
    return grand + perms, obs, extreme


def permutation_test(
    df: DataFrame,
    id_col: str,
    value_col: str,
    label_col: str,
    n_perm: int = 64,
    seed_tag: str = "perm",
) -> DataFrame:
    """Permutation test for a difference in group means, distributed
    the only way a permutation test can be at 100 TB: all ``n_perm``
    permutations evaluate in ONE aggregate pass. Each permutation b
    re-assigns every row to a pseudo-arm via md5(id || tag || b) % 2 —
    a deterministic, engine-portable surrogate for "shuffle the
    labels" (hash-randomization is exchangeable under H0 exactly like
    a shuffle, and unlike a shuffle it needs no global sort, no
    driver-side RNG state, and replays identically on any engine).
    The aggregate carries 3 expressions per permutation (arm-1 sum,
    arm-1 count, all shared with the grand totals), so the plan is one
    map-side-combinable aggregate regardless of n_perm.

    Returns one row: (n, obs_diff, n_extreme, p_value) with the
    add-one (phipson-smyth) estimator p = (1 + #extreme) / (B + 1).
    """
    from pyspark.sql import functions as F

    aggs, obs, extreme = _permutation_exprs(
        id_col, value_col, label_col, n_perm, seed_tag
    )
    agg = df.agg(*aggs)
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(obs, 6).alias("obs_diff"),
        extreme.cast("long").alias("n_extreme"),
        F.round((1 + extreme) / F.lit(float(n_perm + 1)), 6).alias(
            "p_value"
        ),
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "group",
    *,
    max_distinct: int = 1_000_000,
) -> DataFrame:
    """Kruskal-Wallis H (one-way ANOVA on ranks) — the k-sample
    extension of :func:`mann_whitney_u`: "do any of the k groups'
    distributions differ in location", rank-based so it needs no
    normality. Same distributed shape as every exact rank statistic
    here: facts collapse to per-(distinct value, group) counts in ONE
    hash aggregate, the cumulative rank window runs over VALUE
    CARDINALITY (guarded by `require_bounded_distinct` — quantize the
    value upstream when it is continuous), per-group rank sums fold the
    k-row relation, and the exact tie correction Σ(t³−t)/(N³−N) falls
    out of the per-value totals. Returns one row:
    (n, k_groups, h_stat, h_tie_corrected)."""
    from pyspark.sql import Window, functions as F

    per = df.select(
        F.col(value_col).cast("double").alias("v"),
        F.col(group_col).alias("g"),
    ).groupBy("v", "g").agg(F.count(F.lit(1)).alias("c"))
    # per-distinct-value totals (the rank/tie relation)
    vals = per.groupBy("v").agg(F.sum("c").alias("cnt"))
    vals = require_bounded_distinct(
        vals,
        max_distinct,
        "kruskal_wallis",
        "quantize the value column before ranking",
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ranked = vals.select(
        "v",
        "cnt",
        (F.sum("cnt").over(w) - F.col("cnt") + (F.col("cnt") + 1) / 2.0).alias(
            "avg_rank"
        ),
    )
    # per-group n_j and rank sum R_j: join the (v, g, c) relation to the
    # per-value average ranks (both collapsed; broadcast the rank side)
    grp = (
        per.join(F.broadcast(ranked.select("v", "avg_rank")), "v")
        .groupBy("g")
        .agg(
            F.sum("c").alias("n_j"),
            F.sum(F.col("c") * F.col("avg_rank")).alias("r_j"),
        )
    )
    ties = vals.agg(
        F.sum("cnt").cast("double").alias("n"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")).alias(
            "tie_term"
        ),
    )
    agg = grp.agg(
        F.count(F.lit(1)).alias("k_groups"),
        F.sum(F.col("r_j") * F.col("r_j") / F.col("n_j")).alias("rr"),
    ).crossJoin(F.broadcast(ties))
    h = 12.0 / (F.col("n") * (F.col("n") + 1)) * F.col("rr") - 3 * (
        F.col("n") + 1
    )
    corr = 1 - F.col("tie_term") / (
        F.col("n") * F.col("n") * F.col("n") - F.col("n")
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("k_groups").cast("int").alias("k_groups"),
        F.round(h, 6).alias("h_stat"),
        F.round(h / corr, 6).alias("h_tie_corrected"),
    )


def brown_forsythe(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "group",
) -> DataFrame:
    """Brown-Forsythe test (Levene's test with the MEDIAN center) for
    equality of group variances — the robust pre-check before pooled-
    variance methods. Per-group medians come from ONE exact
    interpolating `percentile` aggregate (k rows, broadcast back), the
    absolute deviations z = |x − median_g| never materialize as a
    column store — they live inside the second aggregate's expressions
    — and the F statistic is closed-form from the two aggregates'
    sufficient statistics. Two fact-table passes total, both
    map-side-combinable. Returns one row:
    (n, k_groups, f_stat, df1, df2)."""
    from pyspark.sql import functions as F

    facts = df.select(
        F.col(value_col).cast("double").alias("v"),
        F.col(group_col).alias("g"),
    ).filter(F.col("v").isNotNull())
    med = facts.groupBy("g").agg(
        F.percentile("v", F.lit(0.5)).alias("med")
    )
    z = facts.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("v") - F.col("med")).alias("z")
    )
    per_g = z.groupBy("g").agg(
        F.count(F.lit(1)).cast("double").alias("n_j"),
        F.sum("z").alias("s_j"),
        F.sum(F.col("z") * F.col("z")).alias("q_j"),
    )
    agg = per_g.agg(
        F.sum("n_j").alias("n"),
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("s_j").alias("s"),
        # within-group sum of squares: Σ(q_j − s_j²/n_j)
        F.sum(F.col("q_j") - F.col("s_j") * F.col("s_j") / F.col("n_j")).alias(
            "ssw"
        ),
        # between-group: Σ n_j·(zbar_j − zbar)² = Σ s_j²/n_j − s²/n
        F.sum(F.col("s_j") * F.col("s_j") / F.col("n_j")).alias("ssb_part"),
    )
    ssb = F.col("ssb_part") - F.col("s") * F.col("s") / F.col("n")
    f_stat = (ssb / (F.col("k") - 1)) / (
        F.col("ssw") / (F.col("n") - F.col("k"))
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("int").alias("k_groups"),
        F.round(f_stat, 6).alias("f_stat"),
        (F.col("k") - 1).cast("long").alias("df1"),
        (F.col("n") - F.col("k")).cast("long").alias("df2"),
    )


def g_test(
    df: DataFrame,
    row_col: str = "r",
    col_col: str = "c",
) -> DataFrame:
    """G-test of independence (likelihood-ratio chi-square,
    G = 2·ΣO·ln(O/E)) over a two-factor contingency table — the
    log-likelihood twin of the Pearson chi-square already registered
    (`stat_chi2_independence`); G is additive across partitions of the
    table, which is why corpus-quality pipelines prefer it for n-gram
    association (Dunning 1993). Observed counts come from one hash
    aggregate; expected counts are the broadcast outer product of the
    two marginal relations (r + c rows). Zero-observed cells contribute
    0 (lim x→0 of x·ln x). Returns one row: (n, g_stat, dof)."""
    from pyspark.sql import functions as F

    obs = df.groupBy(row_col, col_col).agg(F.count(F.lit(1)).alias("o"))
    rm = obs.groupBy(row_col).agg(F.sum("o").alias("rt"))
    cm = obs.groupBy(col_col).agg(F.sum("o").alias("ct"))
    tot = obs.agg(F.sum("o").cast("double").alias("n"))
    full = (
        rm.crossJoin(F.broadcast(cm))
        .join(obs, [row_col, col_col], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            row_col,
            col_col,
            "n",
            F.coalesce(F.col("o"), F.lit(0)).cast("double").alias("o"),
            (F.col("rt") * F.col("ct") / F.col("n")).alias("e"),
        )
    )
    agg = full.agg(
        F.max("n").alias("n"),
        (
            2.0
            * F.sum(
                F.when(
                    F.col("o") > 0, F.col("o") * F.log(F.col("o") / F.col("e"))
                ).otherwise(0.0)
            )
        ).alias("g"),
        # collect_set, not count_distinct: two distinct counts in one
        # aggregate plan an Expand whose projection order follows
        # expression ids, so the plan changed from build to build
        F.size(F.collect_set(F.col(row_col))).alias("nr"),
        F.size(F.collect_set(F.col(col_col))).alias("nc"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round("g", 6).alias("g_stat"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
    )


def grouped_permutation_pvalues(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    label_col: str,
    n_perm: int = 64,
    seed_tag: str = "perm",
) -> DataFrame:
    """Per-GROUP permutation p-values in one pass: the
    :func:`permutation_test` expression set (md5-parity pseudo-arm
    re-assignments, all ``n_perm`` permutations inside one
    map-side-combinable aggregate) evaluated ``groupBy(group_col)`` —
    k simultaneous tests at the cost of one scan, which is what makes
    multiple-testing correction an OPERATOR here instead of a driver
    loop. Returns one row per group: (group, n, obs_diff, p_value)."""
    from pyspark.sql import functions as F

    aggs, obs, extreme = _permutation_exprs(
        id_col, value_col, label_col, n_perm, seed_tag
    )
    agg = df.groupBy(group_col).agg(*aggs)
    return agg.select(
        F.col(group_col),
        F.col("n").cast("long").alias("n"),
        F.round(obs, 6).alias("obs_diff"),
        F.round((1 + extreme) / F.lit(float(n_perm + 1)), 6).alias("p_value"),
    )


def _p_ranked(pvals: DataFrame, p_col: str, key_col: str):
    """*pvals* with each test's ascending p-value ``rank`` (ties on the
    key) and the test count ``m``, plus that rank's window."""
    from pyspark.sql import Window, functions as F

    m = F.count(F.lit(1)).over(Window.partitionBy(F.lit(1)))
    w = Window.orderBy(F.col(p_col), F.col(key_col))
    ranked = pvals.select(
        key_col,
        p_col,
        F.row_number().over(w).alias("rank"),
        m.alias("m"),
    )
    return ranked, w


def holm_bonferroni(
    pvals: DataFrame,
    p_col: str = "p_value",
    key_col: str = "group",
    alpha: float = 0.05,
) -> DataFrame:
    """Holm step-down multiple-testing correction over a k-row p-value
    relation: sort ascending, adj_j = min(1, running-max of
    (m−i+1)·p_i) — uniformly more powerful than plain Bonferroni at the
    same family-wise error rate, and THE correction to run whenever an
    experiment dashboard fans one intervention across k metrics or k
    segments. Pure windows over the k-row relation (tests, not rows —
    the bounded-relation window idiom); ties break on the key so both
    engines order identically."""
    from pyspark.sql import Window, functions as F

    ranked, w = _p_ranked(pvals, p_col, key_col)
    step = (F.col("m") - F.col("rank") + 1) * F.col(p_col)
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    return ranked.select(
        key_col,
        F.col(p_col),
        F.col("rank").cast("int").alias("rank"),
        F.round(F.least(F.max(step).over(wrun), F.lit(1.0)), 6).alias(
            "p_adjusted"
        ),
    ).withColumn("reject", F.col("p_adjusted") < F.lit(float(alpha)))


def benjamini_hochberg(
    pvals: DataFrame,
    p_col: str = "p_value",
    key_col: str = "group",
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini-Hochberg step-UP false-discovery-rate control over a
    k-row p-value relation: adj_i = min over j>=i of min(1, m·p_j/j) —
    the FDR companion to :func:`holm_bonferroni`'s family-wise control
    (Holm guards "any false positive", BH guards the false-discovery
    PROPORTION — the right contract when a pipeline screens hundreds of
    segments and expects some real effects). The reverse running min is
    a window from the current row to the END of the p-ordered relation;
    like Holm, every window runs over tests, not rows."""
    from pyspark.sql import Window, functions as F

    ranked, w = _p_ranked(pvals, p_col, key_col)
    step = F.least(F.col("m") * F.col(p_col) / F.col("rank"), F.lit(1.0))
    wfwd = w.rowsBetween(0, Window.unboundedFollowing)
    return ranked.select(
        key_col,
        F.col(p_col),
        F.col("rank").cast("int").alias("rank"),
        F.round(F.min(step).over(wfwd), 6).alias("q_value"),
    ).withColumn("discovery", F.col("q_value") < F.lit(float(alpha)))


def wilcoxon_signed_rank(
    diffs: DataFrame,
    diff_col: str = "d",
    *,
    max_distinct: int = 1_000_000,
) -> DataFrame:
    """Wilcoxon signed-rank test over a relation of paired differences —
    the PAIRED member of the nonparametric family here (Mann-Whitney is
    unpaired two-sample, Kruskal-Wallis is k-sample): zero differences
    drop (Wilcoxon convention), |d| ranks with tie-averaging come from
    the collapsed per-distinct-|d| relation (the same bounded-
    cardinality window shape as every exact rank statistic in this
    module), W+ sums the ranks of positive differences, and the normal
    approximation carries the exact tie correction Σ(t³−t)/48 in its
    variance. Returns one row: (n_pairs, w_plus, z_stat)."""
    from pyspark.sql import Window, functions as F

    d = diffs.select(F.col(diff_col).cast("double").alias("d")).filter(
        F.col("d") != 0
    )
    per = d.groupBy(F.abs(F.col("d")).alias("ad")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum((F.col("d") > 0).cast("long")).alias("pos"),
    )
    per = require_bounded_distinct(
        per,
        max_distinct,
        "wilcoxon_signed_rank",
        "quantize the differences before ranking",
    )
    w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, 0)
    ranked = per.select(
        "cnt",
        "pos",
        (F.sum("cnt").over(w) - F.col("cnt") + (F.col("cnt") + 1) / 2.0).alias(
            "avg_rank"
        ),
    )
    agg = ranked.agg(
        F.sum("cnt").cast("double").alias("n"),
        F.sum(F.col("pos") * F.col("avg_rank")).alias("w_plus"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie_term"),
    )
    mean = F.col("n") * (F.col("n") + 1) / 4.0
    var = (
        F.col("n") * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24.0
        - F.col("tie_term") / 48.0
    )
    return agg.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.round("w_plus", 2).alias("w_plus"),
        F.round((F.col("w_plus") - mean) / F.sqrt(var), 6).alias("z_stat"),
    )
