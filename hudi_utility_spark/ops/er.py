"""Entity resolution: blocking, fuzzy verification, golden-record merge.

The reference has no record-linkage surface at all (its dedup is exact
key-equality inside the upsert path, ``pyspark_script.py`` precombine);
this module adds the standard three-stage ER pipeline a training-data /
MDM workload needs, shaped for Spark:

1. **Blocking** — a deterministic key (e.g. the last-n digits of an id,
   a phonetic code, a sorted token prefix) partitions both sides so the
   candidate join touches only same-block pairs. The join is a plain
   shuffle hash join on the block key; candidate count per block is
   bounded by design (|clean_b| x |dirty_b|), never all-pairs.
2. **Verification** — cheap exact predicates first (normalized digit
   string equality), then the expensive edit-distance only on the
   survivors: Catalyst evaluates conjuncts left-to-right, so
   ``levenshtein`` runs on the block-and-digits-matched subset only.
3. **Survivorship** — matched duplicates collapse onto the clean
   (master) record with a count/agg per entity: one keyed aggregate.

100 TB posture: cost is sum over blocks of |A_b|x|B_b| — the block key
is THE knob (more digits = smaller blocks). A hot block (skewed key)
is visible as a single fat task; the fix is lengthening the key or
salting that block, both metadata-only changes. No stage collects rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def digits_of(col: Column) -> Column:
    """Normalized digit string of a name/id field — the exact-match
    attribute verified before any edit distance runs."""
    return F.regexp_replace(col, "[^0-9]", "")


def block_key(col: Column, n: int = 3) -> Column:
    """Blocking key: last *n* digits of the normalized digit string.

    Suffix (not prefix) digits spread TPC-H-style zero-padded ids
    uniformly; n controls block fan-in (10^n blocks).
    """
    return F.substring(digits_of(col), -n, n)


def blocked_candidates(
    clean: DataFrame,
    dirty: DataFrame,
    clean_name: str,
    dirty_name: str,
    n: int = 3,
) -> DataFrame:
    """Same-block candidate pairs (shuffle join on the block key only).

    Returns every (clean, dirty) row pair sharing a block — the
    verification stage prunes these; this stage exists separately so the
    candidate volume itself is observable (the ER cost model).
    """
    c = clean.withColumn("block", block_key(F.col(clean_name), n))
    d = dirty.withColumn("block", block_key(F.col(dirty_name), n))
    return c.join(d, "block")


def verify_matches(
    cands: DataFrame,
    clean_name: str,
    dirty_name: str,
    max_edit: int = 4,
) -> DataFrame:
    """Two-stage verification on candidate pairs: exact digit-string
    equality (cheap, runs first) AND edit distance <= *max_edit* on the
    full name (expensive, runs on digit-matched survivors only).
    Adds ``edit_dist``.
    """
    digit_eq = digits_of(F.col(clean_name)) == digits_of(F.col(dirty_name))
    dist = F.levenshtein(F.col(clean_name), F.col(dirty_name))
    return (
        cands.where(digit_eq)
        .withColumn("edit_dist", dist)
        .where(F.col("edit_dist") <= max_edit)
    )


def golden_records(
    matches: DataFrame,
    entity_key: str,
    agg_cols: list[Column],
) -> DataFrame:
    """Survivorship: one row per resolved entity (the clean master),
    aggregating its matched duplicates — a single keyed aggregate with
    map-side partials."""
    return matches.groupBy(entity_key).agg(*agg_cols)


def sorted_neighborhood_pairs(
    df: DataFrame,
    block_col: str,
    key_col: str,
    id_col: str,
    window: int = 2,
) -> DataFrame:
    """Sorted-neighborhood candidate generation: within each block,
    records sorted by *key_col* pair with their next ``window``
    neighbors via ``lead`` — candidates come from ONE window pass
    (sort inside the block's shuffle partition), no join at all.

    The classic SNM complement to hash blocking: hash blocks miss
    near-misses that straddle block boundaries of the HASHED attribute
    but sit adjacent in SORT order of another. Cost is |block| x window
    rows — linear, vs quadratic for block-join candidates. Window is
    per-block (``Window.partitionBy(block)``), so no global sort and no
    single-partition collapse at scale; the block key bounds partition
    width exactly like :func:`blocked_candidates`.

    Emits (block, left id/key, right id/key) candidate pairs.
    """
    w = Window.partitionBy(block_col).orderBy(key_col, id_col)
    # window exprs materialize before the generator (Spark disallows a
    # generator over window functions in one projection)
    led = df.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("l_id"),
        F.col(key_col).alias("l_key"),
        F.array(
            *[
                F.struct(
                    F.lead(id_col, i).over(w).alias("r_id"),
                    F.lead(key_col, i).over(w).alias("r_key"),
                )
                for i in range(1, window + 1)
            ]
        ).alias("_nbs"),
    )
    return (
        led.select(
            "block", "l_id", "l_key", F.explode("_nbs").alias("nb")
        )
        .where(F.col("nb.r_id").isNotNull())
        .select(
            "block",
            "l_id",
            "l_key",
            F.col("nb.r_id").alias("r_id"),
            F.col("nb.r_key").alias("r_key"),
        )
    )


def fellegi_sunter_score(
    cands: DataFrame,
    comparisons: list[tuple[str, Column, float, float]],
    upper: float,
    lower: float,
) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (1969 — still the
    backbone of every serious linkage system, Splink included): each
    field comparison contributes its log-likelihood weight —
    ln(m/u) on agreement, ln((1-m)/(1-u)) on disagreement, where m/u
    are the field's agreement probabilities among true matches /
    true non-matches (estimated offline via EM; passed here as model
    constants) — and the summed score classifies the pair against the
    (upper, lower) thresholds: match / possible / non_match.

    The weights are computed driver-side and enter the plan as DOUBLE
    LITERALS, so scoring is a pure map over the candidate relation —
    no joins, no floats derived differently per engine; blocking
    upstream keeps the candidate volume per-block quadratic. Adds
    ``fs_score`` and ``decision``.
    """
    import math

    score = None
    for _name, agree, m, u in comparisons:
        if not (0.0 < u < m < 1.0):
            raise ValueError(
                f"need 0 < u < m < 1 per field, got m={m}, u={u}"
            )
        term = F.when(agree, F.lit(math.log(m / u))).otherwise(
            F.lit(math.log((1.0 - m) / (1.0 - u)))
        )
        score = term if score is None else score + term
    decided = cands.withColumn("fs_score", F.round(score, 6))
    return decided.withColumn(
        "decision",
        F.when(F.col("fs_score") >= upper, F.lit("match"))
        .when(F.col("fs_score") > lower, F.lit("possible"))
        .otherwise(F.lit("non_match")),
    )


# Soundex consonant classes and their digits
_SOUNDEX_CLASSES = [
    ("[bfpv]", "1"),
    ("[cgjkqsxz]", "2"),
    ("[dt]", "3"),
    ("[l]", "4"),
    ("[mn]", "5"),
    ("[r]", "6"),
]


def phonetic_key(col: Column) -> Column:
    """Simplified Soundex phonetic key, ENGINE-PORTABLE by construction:
    first letter + up to 3 consonant-class digits (b/f/p/v→1,
    c/g/j/k/q/s/x/z→2, d/t→3, l→4, m/n→5, r→6; vowels + h/w/y
    dropped), adjacent repeats collapsed, zero-padded to 4. Differs
    from library Soundex in two DOCUMENTED ways (no H/W duplicate
    bridging; the first letter's own class is not merged with a
    following duplicate) because the collapse step must avoid regex
    BACKREFERENCES — DuckDB's RE2 has none — so repeats collapse via a
    fixed chain of plain ``replace`` passes (4 per digit, handling
    runs to length 16) that evaluates identically in any engine.
    Blocking quality is equivalent: the key buckets words by consonant
    skeleton."""
    w = F.lower(col)
    first = F.upper(F.substring(w, 1, 1))
    rest = F.substring(w, 2, 100)
    code = rest
    for cls, d in _SOUNDEX_CLASSES:
        code = F.regexp_replace(code, cls, d)
    code = F.regexp_replace(code, "[aeiouyhw]", "")
    for d in "123456":
        for _ in range(4):
            code = F.replace(code, F.lit(d + d), F.lit(d))
    return F.concat(first, F.rpad(F.substring(code, 1, 3), 3, "0"))


def phonetic_key_sql(expr: str) -> str:
    """DuckDB rendition of :func:`phonetic_key` — the identical
    operation chain, for oracles."""
    code = f"substr(lower({expr}), 2, 100)"
    for cls, d in _SOUNDEX_CLASSES:
        code = f"regexp_replace({code}, '{cls}', '{d}', 'g')"
    code = f"regexp_replace({code}, '[aeiouyhw]', '', 'g')"
    for d in "123456":
        for _ in range(4):
            code = f"replace({code}, '{d}{d}', '{d}')"
    return (
        f"concat(upper(substr(lower({expr}), 1, 1)), "
        f"rpad(substr({code}, 1, 3), 3, '0'))"
    )
