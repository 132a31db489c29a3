"""Oracle-checked entity-resolution queries (ops/er.py).

A deterministic "dirty registry" is synthesized from the customer table
inside the query itself — three realistic corruption variants per master
record (dropped '#', lowercased, legal-suffix appended) — so both Spark
and the DuckDB oracle see the identical linkage problem with no extra
fixture. ER then has to rediscover the master for every dirty record via
blocking + two-stage verification, never via a smuggled true-key join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.ops import er
from hudi_utility_spark.queries import query
from hudi_utility_spark.tables import load_table

# Shared oracle fragment: the synthesized dirty registry + blocked,
# digit-verified candidate pairs (DuckDB side of ops/er.py).
_ORACLE_PAIRS = """
    dirty AS (
        SELECT 'D1-' || c_custkey AS dirty_id, 'drop_hash' AS variant,
               replace(c_name, '#', '') AS d_name
        FROM customer
        UNION ALL
        SELECT 'D2-' || c_custkey, 'lower', lower(c_name) FROM customer
        UNION ALL
        SELECT 'D3-' || c_custkey, 'suffix', c_name || ' Inc' FROM customer
    ),
    cand AS (
        SELECT c.c_custkey, c.c_mktsegment, c.c_name, d.dirty_id, d.variant,
               d.d_name
        FROM customer c
        JOIN dirty d
          ON right(regexp_replace(c.c_name, '[^0-9]', '', 'g'), 3)
             = right(regexp_replace(d.d_name, '[^0-9]', '', 'g'), 3)
    ),
    matched AS (
        SELECT c_custkey, c_mktsegment, dirty_id, variant,
               levenshtein(c_name, d_name) AS edit_dist
        FROM cand
        WHERE regexp_replace(c_name, '[^0-9]', '', 'g')
              = regexp_replace(d_name, '[^0-9]', '', 'g')
          AND levenshtein(c_name, d_name) <= 4
    )
"""


def _dirty_registry(cust: DataFrame) -> DataFrame:
    """Three corruption variants per master record, Spark side."""
    variants = [
        ("D1-", "drop_hash", F.regexp_replace("c_name", "#", "")),
        ("D2-", "lower", F.lower(F.col("c_name"))),
        ("D3-", "suffix", F.concat(F.col("c_name"), F.lit(" Inc"))),
    ]
    parts = [
        cust.select(
            F.concat(F.lit(pfx), F.col("c_custkey")).alias("dirty_id"),
            F.lit(tag).alias("variant"),
            expr.alias("d_name"),
        )
        for pfx, tag, expr in variants
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    dirty = _dirty_registry(cust)
    cands = er.blocked_candidates(cust, dirty, "c_name", "d_name", n=3)
    return er.verify_matches(cands, "c_name", "d_name", max_edit=4)


@query(
    "er_blocked_candidates",
    f"""
    WITH {_ORACLE_PAIRS}
    SELECT right(regexp_replace(c.c_name, '[^0-9]', '', 'g'), 3) AS block,
           COUNT(DISTINCT c.c_custkey) AS clean_cnt,
           COUNT(DISTINCT d.dirty_id) AS dirty_cnt,
           COUNT(*) AS pair_cnt
    FROM customer c
    JOIN dirty d
      ON right(regexp_replace(c.c_name, '[^0-9]', '', 'g'), 3)
         = right(regexp_replace(d.d_name, '[^0-9]', '', 'g'), 3)
    GROUP BY 1
    ORDER BY pair_cnt DESC, block
    LIMIT 20
    """,
)
def er_blocked_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER stage 1 observability: per-block candidate volume (the cost
    model of blocking — sum over blocks of clean_b x dirty_b). The hot
    blocks this surfaces are exactly the ones a skew fix would salt.
    Top-20 fattest blocks."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    dirty = _dirty_registry(cust)
    cands = er.blocked_candidates(cust, dirty, "c_name", "d_name", n=3)
    return (
        cands.groupBy("block")
        .agg(
            F.countDistinct("c_custkey").alias("clean_cnt"),
            F.countDistinct("dirty_id").alias("dirty_cnt"),
            F.count(F.lit(1)).alias("pair_cnt"),
        )
        .orderBy(F.desc("pair_cnt"), F.asc("block"))
        .limit(20)
    )


@query(
    "er_match_pairs",
    f"""
    WITH {_ORACLE_PAIRS}
    SELECT c_custkey, dirty_id, variant, edit_dist
    FROM matched
    ORDER BY c_custkey, variant
    LIMIT 300
    """,
)
def er_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER stage 2: verified links — block join, exact digit-string
    equality first (cheap conjunct), levenshtein <= 4 on the survivors.
    Every dirty record must link back to exactly its master (first 300
    by key for a bounded deterministic sample)."""
    return (
        _matches(spark, sf_dir)
        .select("c_custkey", "dirty_id", "variant", "edit_dist")
        .orderBy("c_custkey", "variant")
        .limit(300)
    )


@query(
    "er_golden_records",
    f"""
    WITH {_ORACLE_PAIRS}
    SELECT c_mktsegment,
           COUNT(DISTINCT c_custkey) AS entities,
           COUNT(*) AS matched_dups,
           ROUND(AVG(edit_dist), 4) AS avg_edit
    FROM matched
    GROUP BY 1
    """,
)
def er_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER stage 3 survivorship: duplicates collapse onto the clean
    master; per-segment entity counts prove every master resolved all
    three of its corrupted variants (matched_dups = 3 x entities)."""
    m = _matches(spark, sf_dir)
    return er.golden_records(
        m,
        "c_mktsegment",
        [
            F.countDistinct("c_custkey").alias("entities"),
            F.count(F.lit(1)).alias("matched_dups"),
            F.round(F.avg("edit_dist"), 4).alias("avg_edit"),
        ],
    )


@query(
    "er_sorted_neighborhood",
    """
    WITH reg AS (
        SELECT 'C-' || c_custkey AS rid, c_name AS name FROM customer
        UNION ALL
        SELECT 'D1-' || c_custkey, replace(c_name, '#', '') FROM customer
        UNION ALL
        SELECT 'D2-' || c_custkey, lower(c_name) FROM customer
        UNION ALL
        SELECT 'D3-' || c_custkey, c_name || ' Inc' FROM customer
    ),
    r AS (
        SELECT rid, lower(name) AS key,
               right(regexp_replace(name, '[^0-9]', '', 'g'), 2) AS block
        FROM reg
    ),
    rn AS (
        SELECT *, row_number() OVER (PARTITION BY block ORDER BY key, rid) AS rn
        FROM r
    ),
    pairs AS (
        SELECT a.block, a.key AS l_key, b.key AS r_key
        FROM rn a JOIN rn b
          ON a.block = b.block AND b.rn BETWEEN a.rn + 1 AND a.rn + 2
    )
    SELECT block,
           COUNT(*) AS cand_pairs,
           CAST(SUM(CASE WHEN levenshtein(l_key, r_key) <= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS matched
    FROM pairs GROUP BY block ORDER BY block
    """,
)
def er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER on the merged clean+dirty registry:
    records sort by normalized (lowercased) name inside each block and
    pair only with their next-2 neighbors — candidates from one window
    pass, no join. Per-block candidate volume vs near-match count is
    the SNM efficiency profile (the oracle reproduces the window as a
    rank-band self-join)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    reg = (
        cust.select(
            F.concat(F.lit("C-"), F.col("c_custkey")).alias("rid"),
            F.col("c_name").alias("name"),
        )
        .unionByName(
            cust.select(
                F.concat(F.lit("D1-"), F.col("c_custkey")).alias("rid"),
                F.regexp_replace("c_name", "#", "").alias("name"),
            )
        )
        .unionByName(
            cust.select(
                F.concat(F.lit("D2-"), F.col("c_custkey")).alias("rid"),
                F.lower(F.col("c_name")).alias("name"),
            )
        )
        .unionByName(
            cust.select(
                F.concat(F.lit("D3-"), F.col("c_custkey")).alias("rid"),
                F.concat(F.col("c_name"), F.lit(" Inc")).alias("name"),
            )
        )
    )
    r = reg.select(
        "rid",
        F.lower(F.col("name")).alias("key"),
        F.substring(F.regexp_replace("name", "[^0-9]", ""), -2, 2).alias(
            "block"
        ),
    )
    pairs = er.sorted_neighborhood_pairs(r, "block", "key", "rid", window=2)
    return (
        pairs.groupBy("block")
        .agg(
            F.count(F.lit(1)).alias("cand_pairs"),
            F.sum(
                F.when(F.levenshtein("l_key", "r_key") <= 2, 1).otherwise(0)
            ).alias("matched"),
        )
        .orderBy("block")
    )


@query(
    "er_blocking_metrics",
    f"""
    WITH {_ORACLE_PAIRS},
    nm AS (SELECT COUNT(*) AS n_masters FROM customer),
    nd AS (SELECT COUNT(*) AS n_dirty FROM dirty),
    nc AS (SELECT COUNT(*) AS n_candidates FROM cand),
    truth AS (
        SELECT COUNT(*) AS n_true_in_cand FROM cand
        WHERE CAST(split_part(dirty_id, '-', 2) AS BIGINT) = c_custkey
    )
    SELECT nm.n_masters, nd.n_dirty, nc.n_candidates,
           ROUND(1.0 - nc.n_candidates
                 / (CAST(nm.n_masters AS DOUBLE) * nd.n_dirty), 6)
               AS reduction_ratio,
           ROUND(truth.n_true_in_cand / CAST(nd.n_dirty AS DOUBLE), 6)
               AS pair_completeness
    FROM nm, nd, nc, truth
    """,
)
def er_blocking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality evaluation (the standard ER tradeoff report):
    reduction ratio = fraction of the all-pairs comparison space the
    blocking key eliminated; pair completeness = fraction of TRUE
    (master, variant) pairs that survive into the candidate set — the
    ground truth is known by construction of the dirty registry, so
    the metric is exact. Both are scalar aggregates over the candidate
    relation; the all-pairs denominator is arithmetic, never
    materialized."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    dirty = _dirty_registry(cust)
    cands = er.blocked_candidates(cust, dirty, "c_name", "d_name", n=3)
    nm = cust.agg(F.count(F.lit(1)).alias("n_masters"))
    nd = dirty.agg(F.count(F.lit(1)).alias("n_dirty"))
    nc = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    truth = cands.filter(
        F.split(F.col("dirty_id"), "-")[1].cast("long") == F.col("c_custkey")
    ).agg(F.count(F.lit(1)).alias("n_true_in_cand"))
    return (
        nm.crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(truth))
        .select(
            "n_masters",
            "n_dirty",
            "n_candidates",
            F.round(
                1.0
                - F.col("n_candidates")
                / (F.col("n_masters").cast("double") * F.col("n_dirty")),
                6,
            ).alias("reduction_ratio"),
            F.round(
                F.col("n_true_in_cand") / F.col("n_dirty").cast("double"), 6
            ).alias("pair_completeness"),
        )
    )


def _fs_weights() -> dict[str, tuple[float, float]]:
    """Field m/u model (offline-EM stand-ins, fixed constants): the
    agreement / disagreement log-likelihood weights, full precision —
    embedded as literals on BOTH engines."""
    import math

    model = {"digits": (0.95, 0.001), "fuzzy": (0.9, 0.05), "exact": (0.6, 0.0005)}
    return {
        k: (math.log(m / u), math.log((1 - m) / (1 - u)))
        for k, (m, u) in model.items()
    }


_FS_W = _fs_weights()


@query(
    "er_fellegi_sunter",
    f"""
    WITH {_ORACLE_PAIRS},
    scored AS (
        SELECT variant,
               ROUND(
                 (CASE WHEN regexp_replace(c_name, '[^0-9]', '', 'g')
                          = regexp_replace(d_name, '[^0-9]', '', 'g')
                       THEN {_FS_W['digits'][0]!r} ELSE {_FS_W['digits'][1]!r} END)
               + (CASE WHEN levenshtein(c_name, d_name) <= 4
                       THEN {_FS_W['fuzzy'][0]!r} ELSE {_FS_W['fuzzy'][1]!r} END)
               + (CASE WHEN lower(c_name) = lower(d_name)
                       THEN {_FS_W['exact'][0]!r} ELSE {_FS_W['exact'][1]!r} END),
               6) AS fs_score
        FROM cand
    ),
    decided AS (
        SELECT variant, fs_score,
               CASE WHEN fs_score >= 8.0 THEN 'match'
                    WHEN fs_score > 0.0 THEN 'possible'
                    ELSE 'non_match' END AS decision
        FROM scored
    )
    SELECT variant, decision,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(fs_score), 6) AS avg_score
    FROM decided GROUP BY variant, decision
    """,
)
def er_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic linkage over the blocked candidate
    pairs: three field comparisons (digit-string equality, edit
    distance <= 4, case-normalized exact equality) with offline-EM m/u
    constants entering the plan as double literals — scoring is a pure
    map over candidates, blocking bounds the volume. Decisions
    summarized per corruption variant (ops/er.py
    fellegi_sunter_score)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    dirty = _dirty_registry(cust)
    cands = er.blocked_candidates(cust, dirty, "c_name", "d_name", n=3)
    comparisons = [
        (
            "digits",
            er.digits_of(F.col("c_name")) == er.digits_of(F.col("d_name")),
            0.95,
            0.001,
        ),
        (
            "fuzzy",
            F.levenshtein(F.col("c_name"), F.col("d_name")) <= 4,
            0.9,
            0.05,
        ),
        (
            "exact",
            F.lower(F.col("c_name")) == F.lower(F.col("d_name")),
            0.6,
            0.0005,
        ),
    ]
    scored = er.fellegi_sunter_score(cands, comparisons, upper=8.0, lower=0.0)
    return scored.groupBy("variant", "decision").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("fs_score"), 6).alias("avg_score"),
    )


from hudi_utility_spark.ops.er import phonetic_key, phonetic_key_sql


@query(
    "er_phonetic_blocking",
    f"""
    WITH keyed AS (
        SELECT p_partkey,
               {phonetic_key_sql("regexp_extract(p_name, '[a-z]+$')")} AS pkey
        FROM part
    )
    SELECT pkey, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS n_pairs
    FROM keyed GROUP BY pkey HAVING COUNT(*) >= 2
    """,
)
def er_phonetic_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking over part product nouns (ops/er.py
    phonetic_key — engine-portable simplified Soundex): records bucket
    by consonant skeleton so typo'd/variant spellings land in the same
    candidate block — the classic cheap ER blocker next to the
    exact-prefix `er_blocked_candidates`. Map-only key + one hash
    aggregate; per-block candidate pair counts quantify the quadratic
    each block would pay downstream."""
    p = load_table(spark, sf_dir, "part")
    keyed = p.select(
        "p_partkey",
        phonetic_key(F.regexp_extract(F.col("p_name"), "[a-z]+$", 0)).alias(
            "pkey"
        ),
    )
    return (
        keyed.groupBy("pkey")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .filter(F.col("n_parts") >= 2)
        .select(
            "pkey",
            "n_parts",
            (F.col("n_parts") * (F.col("n_parts") - 1) / 2)
            .cast("long")
            .alias("n_pairs"),
        )
    )
