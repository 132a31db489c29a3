"""Data-quality constraint-suite query (ops/quality.py) — the
declarative audit extending the reference's validation posture (SURVEY
§2.11) from pipeline checks to data checks."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.ops import phash, quality as Q
from hudi_utility_spark.queries import query
from hudi_utility_spark.tables import load_table
from hudi_utility_spark.tsutil import us


# the word-count signal and long-document label the ranking, calibration
# and test queries score documents with, and its decile bins
_WORD_BINS = """scored AS (
        SELECT least(CAST(floor(
                   len(string_split_regex(trim(text), '\\s+')) / 10.0)
                   AS INT), 9) AS bin,
               CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS label
        FROM documents
    )"""
# per distinct score of `scored`: label counts and the rows ranked below it
_MID_RANKS = """per_score AS (
        SELECT score,
               SUM(label) AS pos,
               COUNT(*) - SUM(label) AS neg,
               COUNT(*) AS cnt
        FROM scored GROUP BY score
    ),
    ranked AS (
        SELECT pos, neg, cnt,
               SUM(cnt) OVER (ORDER BY score) - cnt AS cum_before
        FROM per_score
    )"""


def _words():
    """Whitespace word count of ``text``."""
    return F.size(F.split(F.trim(F.col("text")), r"\s+"))


def _long_doc():
    """1 for a document of at least 300 characters, else 0."""
    return F.when(F.col("n_chars") >= 300, 1).otherwise(0)


def _word_bin():
    """Word-count decile bin 0..9 (tens of words, capped)."""
    return F.least(F.floor(_words() / 10.0).cast("int"), F.lit(9)).alias("bin")


def _word_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of `_WORD_BINS`: ``(bin, label)`` per document."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(_word_bin(), _long_doc().alias("label"))

@query(
    "dq_constraint_report",
    """
    SELECT "constraint", violations, violations = 0 AS passed FROM (
        SELECT 'not_null(o_custkey)' AS "constraint",
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS violations
        FROM orders
        UNION ALL
        SELECT 'in_range(o_totalprice)',
               CAST(SUM(CASE WHEN o_totalprice IS NOT NULL AND o_totalprice < 0
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'accepted_values(o_orderstatus)',
               CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                              AND o_orderstatus NOT IN ('F', 'O', 'P')
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'matches_regex(o_orderpriority)',
               CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
                              AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'unique(o_orderkey)',
               (SELECT CAST(SUM(n) - COUNT(*) AS BIGINT)
                FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey))
        UNION ALL
        SELECT 'references(l_orderkey->o_orderkey)',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
                WHERE l.l_orderkey IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
    ) ORDER BY "constraint"
    """,
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-constraint audit over orders (+ lineitem referential
    integrity): row-local checks share ONE aggregate pass, uniqueness is
    one keyed distinct, the foreign key is one broadcast anti-join —
    the whole report is a union of one-row relations (ops/quality.py)."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    report_orders = Q.constraint_report(
        orders,
        [
            Q.not_null("o_custkey"),
            Q.in_range("o_totalprice", lo=0),
            Q.accepted_values("o_orderstatus", ["F", "O", "P"]),
            Q.matches_regex("o_orderpriority", r"^[1-5]-"),
            Q.unique("o_orderkey"),
        ],
    )
    report_fk = Q.constraint_report(
        lineitem,
        [Q.references("l_orderkey", orders, "o_orderkey")],
    )
    return report_orders.unionByName(report_fk).orderBy("constraint")


@query(
    "dq_column_profile",
    """
    WITH base AS (
        SELECT 'o_custkey' AS "column",
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nulls,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(DISTINCT o_totalprice) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
        FROM orders
    )
    SELECT * FROM base ORDER BY "column"
    """,
)
def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-column completeness/cardinality profile of orders
    (ops/quality.py `profile_columns`): one aggregate, Expand-planned
    multi-distinct, k-row report."""
    orders = load_table(spark, sf_dir, "orders")
    return Q.profile_columns(
        orders, ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    )


def _hll_oracle(cols: list[str], table: str = "events", p: int = 9) -> str:
    """Portable-HLL oracle: identical md5 bucket/rank integer arithmetic
    and the same harmonic + linear-counting estimate, per column."""
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    arms = []
    for c in cols:
        hi, lo = phash.sql_parts(f"CAST({c} AS VARCHAR)")
        ladder = " ".join(
            f"WHEN {lo} >= {1 << (b - 1)} THEN {33 - b}"
            for b in range(32, 0, -1)
        )
        arms.append(
            f"""
    SELECT '{c}' AS "column",
           ROUND(CASE WHEN e_raw <= {2.5 * m!r} AND zeros > 0
                      THEN {float(m)!r} * ln({float(m)!r} / zeros)
                      ELSE e_raw END, 4) AS est_distinct
    FROM (
      SELECT {alpha * m * m!r} / (s + zeros) AS e_raw, zeros FROM (
        SELECT SUM(power(2.0, -r)) AS s, {m} - COUNT(*) AS zeros FROM (
          SELECT bucket, MAX(rank) AS r FROM (
            SELECT ({hi} % {m}) AS bucket,
                   (CASE {ladder} ELSE 33 END) AS rank
            FROM {table} WHERE {c} IS NOT NULL
          ) GROUP BY bucket
        )
      )
    )"""
        )
    return "\n    UNION ALL".join(arms)


@query(
    "approx_distinct_portable",
    _hll_oracle(["user_id", "event_type", "event_id"]),
)
def approx_distinct_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog cardinality estimates (ops/quality.py
    `hll_distinct`): md5-derived buckets/ranks in pure integer
    arithmetic + dyadic harmonic sums, so — unlike
    `approx_distinct_profile`'s engine-private HLL++ — the estimate
    itself is value-hash-checked against DuckDB. 2^9 mergeable counters
    per column; ~4.6% standard error."""
    from hudi_utility_spark.ops.quality import hll_distinct

    ev = load_table(spark, sf_dir, "events")
    return hll_distinct(ev, ["user_id", "event_type", "event_id"], p=9)


@query(
    "dq_value_histogram",
    """
    WITH b AS (SELECT MIN(CAST(value AS DOUBLE)) AS lo,
                      MAX(CAST(value AS DOUBLE)) AS hi
               FROM events),
    h AS (
        SELECT LEAST(CAST(FLOOR((CAST(value AS DOUBLE) - (SELECT lo FROM b)) * 16
                                / ((SELECT hi FROM b) - (SELECT lo FROM b)))
                          AS BIGINT),
                     15) AS bucket
        FROM events WHERE value IS NOT NULL
    )
    SELECT bucket,
           ROUND((SELECT lo FROM b)
                 + bucket * ((SELECT hi FROM b) - (SELECT lo FROM b)) / 16,
                 6) AS bucket_lo,
           ROUND((SELECT lo FROM b)
                 + (bucket + 1) * ((SELECT hi FROM b) - (SELECT lo FROM b)) / 16,
                 6) AS bucket_hi,
           COUNT(*) AS n
    FROM h GROUP BY bucket
    """,
)
def dq_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 16-bucket equi-width histogram of the event value column
    (ops/quality.py `equi_width_histogram`): one 2-scalar min/max
    aggregate + one map-side bucket assignment and hash aggregate — the
    engine-portable profile whose arithmetic the oracle replays
    operation-for-operation (vs approxQuantile's engine-private
    sketch)."""
    ev = load_table(spark, sf_dir, "events")
    return Q.equi_width_histogram(ev, "value", n_buckets=16)


@query(
    "dq_quarantine_rows",
    """
    SELECT event_id, event_type, ROUND(value, 2) AS value,
           array_to_string(violations, ';') AS violations
    FROM (
      SELECT event_id, event_type, value,
             list_filter([
               CASE WHEN value IS NULL THEN 'not_null(value)' END,
               CASE WHEN value IS NOT NULL AND (value < 0 OR value > 450)
                    THEN 'in_range(value)' END,
               CASE WHEN event_type IS NOT NULL AND event_type NOT IN
                         ('click', 'view', 'purchase', 'signup')
                    THEN 'accepted_values(event_type)' END
             ], x -> x IS NOT NULL) AS violations
      FROM events
    ) WHERE len(violations) > 0
    """,
)
def dq_quarantine_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation enforcement with quarantine (ops/quality.py
    `quarantine_split`, the DLT expect-or-quarantine pattern): bad rows
    annotated with every failed expectation in suite order. The
    violation array is one codegen'd map-only expression — good/bad are
    two filters over the same annotated plan, zero shuffles. Violations
    are emitted ';'-joined (scalar output, canonicalizable by generic
    result comparators); `quarantine_split` itself keeps the array."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    suite = [
        Q.not_null("value"),
        Q.in_range("value", 0, 450),
        Q.accepted_values("event_type", ["click", "view", "purchase", "signup"]),
    ]
    good, bad = Q.quarantine_split(ev, suite)
    return bad.select(
        "event_id",
        "event_type",
        F.round("value", 2).alias("value"),
        F.concat_ws(";", "violations").alias("violations"),
    )


@query(
    "dq_equidepth_histogram",
    """
    WITH t AS (
      SELECT value, NTILE(8) OVER (ORDER BY value, event_id) AS bucket
      FROM events WHERE value IS NOT NULL
    )
    SELECT bucket, COUNT(*) AS n,
           ROUND(MIN(value), 2) AS lo, ROUND(MAX(value), 2) AS hi
    FROM t GROUP BY bucket
    """,
)
def dq_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (quantile buckets, NTILE(8) semantics):
    ±1-equal bucket populations with exact bucket bounds — the
    complement of `dq_value_histogram`'s equi-width bins.

    NO global window: `ntile().over(Window.orderBy(...))` would funnel
    the table through one task (the banned single-partition shape).
    Exact global ranks come from the distributed prefix sum instead —
    `repartitionByRange` on the sort key, per-range local row numbers,
    per-range counts (k scalars) prefix-summed on the driver and
    broadcast back — then NTILE's ±1 split is a closed-form expression
    of (rank, N). Same machinery as `select_until_budget`; every stage
    parallel, driver state O(ranges)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "value")
    )
    n_ranges = 32
    tagged = (
        ev.repartitionByRange(n_ranges, F.asc("value"), F.asc("event_id"))
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = {
        r[0]: r[1] for r in tagged.groupBy("_pid").count().collect()
    }
    total = sum(counts.values())
    offsets, acc = {}, 0
    for p_ in sorted(counts):
        offsets[p_] = acc
        acc += counts[p_]
    off_map = F.create_map(*[F.lit(v) for kv in offsets.items() for v in kv])

    from pyspark.sql import Window

    local = Window.partitionBy("_pid").orderBy(F.asc("value"), F.asc("event_id"))
    rank = off_map[F.col("_pid")] + F.row_number().over(local)
    # NTILE(k) closed form: the first N%k buckets hold ceil(N/k) rows
    k = 8
    base, rem = total // k, total % k
    big = rem * (base + 1)
    bucket = F.when(
        rank <= F.lit(big), F.ceil(rank / F.lit(base + 1))
    ).otherwise(F.lit(rem) + F.ceil((rank - F.lit(big)) / F.lit(max(base, 1))))
    return (
        tagged.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
    )


@query(
    "dq_pseudonymized_join",
    """
    WITH ev AS (
      SELECT md5('k7' || CAST(user_id AS VARCHAR)) AS user_tok,
             event_type, value
      FROM events
    ), cust AS (
      SELECT DISTINCT md5('k7' || CAST(user_id AS VARCHAR)) AS user_tok,
             user_id % 3 AS segment
      FROM events
    )
    SELECT c.segment, ev.event_type, COUNT(*) AS n,
           ROUND(SUM(ev.value), 2) AS total_value
    FROM ev JOIN cust c ON ev.user_tok = c.user_tok
    GROUP BY c.segment, ev.event_type
    """,
)
def dq_pseudonymized_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-preserving linkage (ops/quality.py `pseudonymize`): both
    relations pseudonymize `user_id` under the same salt, then join on
    the TOKEN — raw identifiers never appear in the joined output, yet
    the linkage is exact. Map-only tokenization + one token-keyed
    join; the oracle replays the identical md5(salt||value) algebra."""
    ev = load_table(spark, sf_dir, "events")
    facts = Q.pseudonymize(
        ev.select("user_id", "event_type", "value"), ["user_id"], salt="k7"
    ).withColumnRenamed("user_id", "user_tok")
    dim = Q.pseudonymize(
        ev.select("user_id", (F.col("user_id") % 3).alias("segment")).distinct(),
        ["user_id"],
        salt="k7",
    ).withColumnRenamed("user_id", "user_tok")
    return (
        facts.join(dim, "user_tok")
        .groupBy("segment", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "dq_k_anonymity_audit",
    """
    SELECT lang, source, COUNT(*) AS class_size,
           COUNT(*) < 5 AS violates_k
    FROM documents GROUP BY lang, source
    """,
)
def dq_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (lang, source) quasi-identifier pair
    (ops/quality.py `k_anonymity_audit`): one hash aggregate bounded by
    distinct quasi combinations — equivalence classes smaller than k=5
    are the linkage-attack surface."""
    d = load_table(spark, sf_dir, "documents")
    return Q.k_anonymity_audit(d, ["lang", "source"], k=5)


@query(
    "dq_k_suppression",
    """
    WITH sizes AS (
        SELECT lang, source, COUNT(*) AS n
        FROM documents GROUP BY lang, source
    )
    SELECT d.doc_id,
           CASE WHEN s.n < 5 THEN NULL ELSE d.lang END AS lang,
           CASE WHEN s.n < 5 THEN NULL ELSE d.source END AS source
    FROM documents d
    JOIN sizes s ON d.lang IS NOT DISTINCT FROM s.lang
                AND d.source IS NOT DISTINCT FROM s.source
    """,
)
def dq_k_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell suppression to k-anonymity (ops/quality.py `k_suppress`):
    rows in sub-k equivalence classes get their quasi columns NULLed
    via a null-safe broadcast of the audit relation — map-side
    annotate, no fact shuffle. The oracle re-derives exactly which rows
    suppress."""
    d = load_table(spark, sf_dir, "documents")
    return Q.k_suppress(d, ["lang", "source"], k=5).select(
        "doc_id", "lang", "source"
    )


@query(
    "dq_dp_noisy_counts",
    """
    WITH agg AS (
        SELECT event_type, COUNT(*) AS true_cnt
        FROM events GROUP BY event_type
    ),
    draw AS (
        SELECT event_type, true_cnt,
               (CAST(concat('0x', substring(md5('dp' || event_type), 1, 12))
                     AS UBIGINT) + 0.5) / 281474976710656.0 AS u
        FROM agg
    )
    SELECT event_type,
           ROUND(true_cnt + (-1.0 * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5))),
                 4) AS noisy_count
    FROM draw
    """,
)
def dq_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private per-event-type count release (Laplace
    mechanism, epsilon=1): deterministic md5-seeded noise makes the
    release idempotent and lets the oracle replay the inverse-CDF draw
    to the same float."""
    ev = load_table(spark, sf_dir, "events")
    return Q.dp_noisy_counts(ev, ["event_type"], epsilon=1.0, seed="dp")


@query(
    "dq_l_diversity",
    """
    SELECT lang, source,
           COUNT(*) AS class_size,
           CAST(COUNT(DISTINCT event_bucket)
                + MAX(CASE WHEN event_bucket IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_sensitive_values,
           (COUNT(DISTINCT event_bucket)
            + MAX(CASE WHEN event_bucket IS NULL THEN 1 ELSE 0 END)) < 3
               AS violates_l
    FROM (
        SELECT lang, source,
               CASE WHEN n_chars % 7 = 0 THEN NULL
                    ELSE CAST(n_chars % 4 AS VARCHAR) END AS event_bucket
        FROM documents
    ) GROUP BY lang, source
    """,
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over (lang, source) with a derived sensitive
    attribute (length bucket, with a seeded NULL stripe so the
    NULL-is-observable rule is exercised): classes where every member
    shares few sensitive values are homogeneity-attack leaks even when
    k-anonymous."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "event_bucket",
        F.when(F.col("n_chars") % 7 == 0, F.lit(None).cast("string")).otherwise(
            (F.col("n_chars") % 4).cast("string")
        ),
    )
    return Q.l_diversity_audit(d, ["lang", "source"], "event_bucket", l=3)


@query(
    "stat_chi2_independence",
    """
    WITH o AS (SELECT lang, source, COUNT(*) AS obs FROM documents GROUP BY 1, 2),
    rm AS (SELECT lang, SUM(obs) AS rt FROM o GROUP BY lang),
    cm AS (SELECT source, SUM(obs) AS ct FROM o GROUP BY source),
    n AS (SELECT CAST(SUM(obs) AS DOUBLE) AS n FROM o)
    SELECT ROUND(SUM(pow(o.obs - rm.rt * cm.ct / n.n, 2)
                     / (rm.rt * cm.ct / n.n)), 4) AS chi2,
           CAST((COUNT(DISTINCT o.lang) - 1)
                * (COUNT(DISTINCT o.source) - 1) AS BIGINT) AS dof
    FROM o JOIN rm USING (lang) JOIN cm USING (source), n
    """,
)
def stat_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence audit between corpus dimensions (is
    language distribution independent of source? — the stratification
    sanity check before per-source quality conclusions). One
    contingency aggregate bounded by lang x source cells; margins are
    cell-sized broadcasts; the fact table is scanned once."""
    d = load_table(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("obs"))
    rm = o.groupBy("lang").agg(F.sum("obs").alias("rt"))
    cm = o.groupBy("source").agg(F.sum("obs").alias("ct"))
    n = o.agg(F.sum("obs").cast("double").alias("n"))
    e = F.col("rt") * F.col("ct") / F.col("n")
    return (
        o.join(F.broadcast(rm), "lang")
        .join(F.broadcast(cm), "source")
        .crossJoin(F.broadcast(n))
        .agg(
            F.round(F.sum(F.pow(F.col("obs") - e, 2) / e), 4).alias("chi2"),
            # collect_set: two count_distincts plan an Expand whose
            # projection order follows expression ids (see mlfit.g_test)
            (
                (F.size(F.collect_set("lang")) - 1)
                * (F.size(F.collect_set("source")) - 1)
            ).cast("long").alias("dof"),
        )
    )


@query(
    "dq_freshness_audit",
    """
    WITH per_type AS (
        SELECT event_type,
               MAX(ts) AS latest_ts,
               COUNT(*) AS n_events
        FROM events GROUP BY event_type
    ),
    g AS (SELECT MAX(latest_ts) AS global_latest FROM per_type)
    SELECT event_type,
           epoch_us(latest_ts) AS latest_us,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(epoch_us(global_latest) - epoch_us(latest_ts) AS BIGINT)
               AS lag_us,
           epoch_us(global_latest) - epoch_us(latest_ts) > 3600000000
               AS stale
    FROM per_type, g
    """,
)
def dq_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-freshness audit: per-stream-partition latest event vs
    the global high-water mark — the staleness page of a pipeline
    health dashboard (a partition lagging the rest by over an hour
    usually means a dead producer, not a quiet one). One partial-agg
    pass + a 1-row broadcast; timestamps cross the oracle as unix
    microseconds."""
    from hudi_utility_spark.tsutil import us

    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.max("ts").alias("latest_ts"), F.count(F.lit(1)).alias("n_events")
    )
    g = per_type.agg(F.max("latest_ts").alias("global_latest"))
    lag = us("global_latest") - us("latest_ts")
    return per_type.crossJoin(F.broadcast(g)).select(
        "event_type",
        us("latest_ts").alias("latest_us"),
        "n_events",
        lag.alias("lag_us"),
        (lag > 3_600_000_000).alias("stale"),
    )


def _bootstrap_oracle(replicates: int = 32, seed: str = "boot") -> str:
    """Poisson-bootstrap oracle: identical uniform, identical CDF-ladder
    literals, identical percentile-rank reads."""
    from hudi_utility_spark.ops.quality import _poisson1_thresholds

    th = _poisson1_thresholds()
    ladder = " ".join(
        f"WHEN u < {t!r} THEN {k}" for k, t in enumerate(th)
    )
    lo = max(1, int(replicates * 0.025))
    hi = min(replicates, int(replicates * 0.975) + 1)
    return f"""
    WITH reps AS (SELECT unnest(range({replicates})) AS rep),
    rws AS (
        SELECT e.event_type AS grp, CAST(e.value AS DOUBLE) AS x,
               CAST(e.event_id AS VARCHAR) AS rid, r.rep
        FROM events e, reps r
    ),
    wts AS (
        SELECT grp, rep, x,
               CAST(CASE {ladder} ELSE {len(th)} END AS DOUBLE) AS w
        FROM (
            SELECT *,
                   (CAST(concat('0x', substring(md5('{seed}:' ||
                        CAST(rep AS VARCHAR) || ':' || rid), 1, 12))
                        AS UBIGINT) + 0.5) / 281474976710656.0 AS u
            FROM rws
        )
    ),
    per_rep AS (
        SELECT grp, rep, SUM(w * x) / SUM(w) AS rep_mean
        FROM wts GROUP BY 1, 2
    ),
    point AS (
        SELECT event_type AS grp, AVG(CAST(value AS DOUBLE)) AS mean,
               COUNT(*) AS n
        FROM events GROUP BY 1
    ),
    cis AS (
        SELECT grp,
               (list_sort(list(rep_mean)))[{lo}] AS ci_lo,
               (list_sort(list(rep_mean)))[{hi}] AS ci_hi
        FROM per_rep GROUP BY grp
    )
    SELECT p.grp AS event_type,
           ROUND(p.mean, 6) AS mean,
           ROUND(c.ci_lo, 6) AS ci_lo,
           ROUND(c.ci_hi, 6) AS ci_hi,
           CAST(p.n AS BIGINT) AS n
    FROM point p JOIN cis c USING (grp)
    """


@query("stat_bootstrap_ci", _bootstrap_oracle())
def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence intervals for per-type mean
    event value — the one-pass distributed bootstrap (per-row
    Poisson(1) replicate weights; no multinomial coordination, no
    resampled copies of the data). Deterministic md5 coins make all 32
    replicates replayable in SQL, so even the CI endpoints are
    value-hash-checked."""
    ev = load_table(spark, sf_dir, "events")
    return Q.bootstrap_ci(ev, "event_type", "value", "event_id", replicates=32)


def _hll_union_oracle(p: int = 9) -> str:
    """Two sketches built independently (click users / purchase users),
    merged per-bucket, estimated — plus the exact union distinct."""
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    hi, lo = phash.sql_parts("CAST(user_id AS VARCHAR)")
    ladder = " ".join(
        f"WHEN {lo} >= {1 << (b - 1)} THEN {33 - b}"
        for b in range(32, 0, -1)
    )

    def sk(ev_type: str) -> str:
        return f"""(
            SELECT bucket, MAX(rank) AS r FROM (
                SELECT ({hi} % {m}) AS bucket,
                       (CASE {ladder} ELSE 33 END) AS rank
                FROM events WHERE event_type = '{ev_type}'
                  AND user_id IS NOT NULL
            ) GROUP BY bucket
        )"""

    return f"""
    WITH merged AS (
        SELECT bucket, MAX(r) AS r FROM (
            SELECT * FROM {sk("click")}
            UNION ALL SELECT * FROM {sk("purchase")}
        ) GROUP BY bucket
    ),
    est AS (
        SELECT ROUND(CASE WHEN e_raw <= {2.5 * m!r} AND zeros > 0
                          THEN {float(m)!r} * ln({float(m)!r} / zeros)
                          ELSE e_raw END, 4) AS est_union_distinct
        FROM (
            SELECT {alpha * m * m!r} / (s + zeros) AS e_raw, zeros FROM (
                SELECT SUM(power(2.0, -r)) AS s, {m} - COUNT(*) AS zeros
                FROM merged
            )
        )
    ),
    exact AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_union
        FROM events WHERE event_type IN ('click', 'purchase')
    )
    SELECT est_union_distinct, exact_union FROM est, exact
    """


@query("approx_union_sketch_merge", _hll_union_oracle())
def approx_union_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY under the value-hash gate: click-user and
    purchase-user HLL sketches built independently, merged per-bucket
    (lossless for union), estimated — next to the exact union
    cardinality. The pattern that lets 100 TB profiling store
    2^p-counter sketches per source/day and answer any later union
    question without a rescan."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    buys = ev.filter(F.col("event_type") == "purchase")
    est = Q.hll_union_estimate(
        [Q.hll_sketch(clicks, "user_id"), Q.hll_sketch(buys, "user_id")]
    )
    exact = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .agg(F.count_distinct("user_id").alias("exact_union"))
    )
    return est.crossJoin(F.broadcast(exact))


# SQL twin of `_click_purchase_counts`
_CLICK_PURCHASE_VALS = """
    WITH vals AS (
        SELECT value,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY value
    ),
    tot AS (
        SELECT CAST(SUM(ca) AS DOUBLE) AS na, CAST(SUM(cb) AS DOUBLE) AS nb
        FROM vals
    )"""


# count, sum and sum of squares of v on each side of the binary label
# (CTE s) — the Welch and pooled-variance t-test inputs
_LABEL_SPLIT_SUMS = """agg AS (
        SELECT CAST(SUM(CASE WHEN label = 1 AND v IS NOT NULL
                             THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
               SUM(CASE WHEN label = 1 THEN v ELSE 0.0 END) AS s1,
               SUM(CASE WHEN label = 1 THEN v * v ELSE 0.0 END) AS q1,
               CAST(SUM(CASE WHEN label = 0 AND v IS NOT NULL
                             THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
               SUM(CASE WHEN label = 0 THEN v ELSE 0.0 END) AS s2,
               SUM(CASE WHEN label = 0 THEN v * v ELSE 0.0 END) AS q2
        FROM s
    )"""


def _click_purchase_counts(
    spark: SparkSession, sf_dir: str, context: str, window: str
) -> tuple[DataFrame, DataFrame]:
    """Click (ca) and purchase (cb) counts per distinct event value,
    bounded-distinct-guarded for the ordered *window* that follows, and
    the one-row totals (na, nb) of the two-sample ECDF statistics."""
    from hudi_utility_spark.ops.mlfit import require_bounded_distinct

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    vals = ev.groupBy("value").agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("ca"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("cb"),
    )
    vals = require_bounded_distinct(
        vals,
        1_000_000,
        context,
        f"pre-bucket the value column (equi-width) before the {window} window",
    )
    tot = vals.agg(
        F.sum("ca").cast("double").alias("na"),
        F.sum("cb").cast("double").alias("nb"),
    )
    return vals, tot


@query(
    "stat_ks_two_sample",
    _CLICK_PURCHASE_VALS
    + """,
    cum AS (
        SELECT SUM(ca) OVER (ORDER BY value) AS cca,
               SUM(cb) OVER (ORDER BY value) AS ccb
        FROM vals
    )
    SELECT CAST(t.na AS BIGINT) AS n_a,
           CAST(t.nb AS BIGINT) AS n_b,
           ROUND(MAX(abs(c.cca / t.na - c.ccb / t.nb)), 6) AS d_stat
    FROM cum c, tot t GROUP BY t.na, t.nb
    """,
)
def stat_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic (click vs purchase value
    distributions) — the distribution-drift test behind model-input
    monitoring. The fact table collapses to per-distinct-value counts
    FIRST (one hash aggregate), so the ordered cumulative window runs
    over the value-cardinality relation, never the facts; at 100 TB
    pre-bucket values (equi-width) to bound that cardinality and the
    same plan holds. `require_bounded_distinct` enforces that bound —
    a continuous value column fails loudly instead of silently
    single-partition-sorting the fact table."""
    from pyspark.sql import Window

    vals, tot = _click_purchase_counts(spark, sf_dir, "stat_ks_two_sample", "KS")
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    cum = vals.select(
        F.sum("ca").over(w).alias("cca"), F.sum("cb").over(w).alias("ccb")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(
            F.round(
                F.max(F.abs(F.col("cca") / F.col("na") - F.col("ccb") / F.col("nb"))),
                6,
            ).alias("d_stat")
        )
        .select(
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            "d_stat",
        )
    )


@query(
    "stat_psi_drift",
    """
    WITH bounds AS (
        SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
    ),
    binned AS (
        SELECT least(CAST(floor((value - b.lo) / ((b.hi - b.lo) / 10)) AS INT), 9)
                   AS bin,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
        FROM events, bounds b
        WHERE event_type IN ('click', 'purchase')
        GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(ca) AS DOUBLE) AS na, CAST(SUM(cb) AS DOUBLE) AS nb
            FROM binned)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           ROUND(SUM((ca / t.na - cb / t.nb)
                     * ln((ca / t.na + 1e-6) / (cb / t.nb + 1e-6))), 6) AS psi
    FROM binned, tot t
    """,
)
def stat_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between the click and purchase value
    distributions over 10 equi-width bins — the industry drift gauge
    (PSI > 0.2 = retrain). Two scalar bounds + one binned aggregate;
    the epsilon guard makes empty bins finite identically on both
    engines."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    both = ev.filter(F.col("event_type").isin("click", "purchase"))
    binned = (
        both.crossJoin(F.broadcast(b))
        .select(
            F.least(
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / 10)
                ).cast("int"),
                F.lit(9),
            ).alias("bin"),
            (F.col("event_type") == "click").cast("long").alias("is_a"),
            (F.col("event_type") == "purchase").cast("long").alias("is_b"),
        )
        .groupBy("bin")
        .agg(F.sum("is_a").alias("ca"), F.sum("is_b").alias("cb"))
    )
    tot = binned.agg(
        F.sum("ca").cast("double").alias("na"),
        F.sum("cb").cast("double").alias("nb"),
    )
    pa = F.col("ca") / F.col("na")
    pb = F.col("cb") / F.col("nb")
    return (
        binned.crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.round(
                F.sum(
                    (pa - pb) * F.log((pa + 1e-6) / (pb + 1e-6))
                ),
                6,
            ).alias("psi"),
        )
    )


@query(
    "ml_auc_score",
    """
    WITH scored AS (
        SELECT n_chars,
               CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS label,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                   AS score
        FROM documents
    ),
    """ + _MID_RANKS + """,
    agg AS (
        SELECT SUM(pos * (cum_before + (cnt + 1) / 2.0)) AS rank_sum,
               SUM(pos) AS n_pos, SUM(neg) AS n_neg
        FROM ranked
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           ROUND((rank_sum - n_pos * (n_pos + 1) / 2.0)
                 / (n_pos * CAST(n_neg AS DOUBLE)), 6) AS auc
    FROM agg
    """,
)
def ml_auc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed tie-aware AUC (Mann-Whitney U via average ranks):
    rows collapse to per-distinct-score (pos, neg) counts FIRST, so the
    ranking window runs over score cardinality, never rows — the same
    collapse that makes the KS test scale. Here: how well word count
    ranks long documents (a sanity label with a known-high AUC); any
    (score, label) pair drops in. Exact half-integer rank arithmetic —
    no approximation to disagree over. The op carries the bounded-
    cardinality guard + quantize_bins escape hatch that keep a
    continuous score from silently serializing the ranking window."""
    from hudi_utility_spark.ops.mlfit import tie_aware_auc

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        _long_doc().alias("label"),
        _words().cast("double").alias("score"),
    )
    return tie_aware_auc(scored)


@query(
    "ml_calibration_bins",
    """
    WITH scored AS (
        SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS label,
               least(CAST(floor(
                   len(string_split_regex(trim(text), '\\s+')) / 10.0) AS INT),
                   9) AS bin
        FROM documents
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(CAST(label AS DOUBLE)), 6) AS empirical_rate
    FROM scored GROUP BY bin
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for a ranking signal: documents bucketed by
    word-count decile bins, empirical long-doc rate per bin — read next
    to `ml_auc_score`, this shows WHERE the signal separates (AUC says
    only THAT it does). One map + one bin-sized aggregate."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        _long_doc().alias("label"),
        _word_bin(),
    )
    return scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.col("label").cast("double")), 6).alias(
            "empirical_rate"
        ),
    )


@query(
    "dq_luhn_payment_audit",
    """
    WITH p AS (
      SELECT doc_id,
             concat('4', lpad(CAST(
                 CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                      AS BIGINT) % 100000000000000 AS VARCHAR), 14, '0'))
                 AS base
      FROM documents
    ), c AS (
      SELECT doc_id, base,
             (10 - list_sum(list_transform(range(0, 15), i ->
                 CASE WHEN i % 2 = 0 THEN
                   CASE WHEN CAST(base[15 - i] AS INT) * 2 > 9
                        THEN CAST(base[15 - i] AS INT) * 2 - 9
                        ELSE CAST(base[15 - i] AS INT) * 2 END
                 ELSE CAST(base[15 - i] AS INT) END)) % 10) % 10 AS cd
      FROM p
    ), pans AS (
      SELECT doc_id,
             base || CAST(CASE WHEN doc_id % 2 = 0 THEN cd
                          ELSE (cd + 1) % 10 END AS VARCHAR) AS pan
      FROM c
    )
    SELECT doc_id,
           right(pan, 4) AS pan_last4,
           (list_sum(list_transform(range(0, 16), i ->
               CASE WHEN i % 2 = 1 THEN
                 CASE WHEN CAST(pan[16 - i] AS INT) * 2 > 9
                      THEN CAST(pan[16 - i] AS INT) * 2 - 9
                      ELSE CAST(pan[16 - i] AS INT) * 2 END
               ELSE CAST(pan[16 - i] AS INT) END)) % 10 = 0) AS luhn_ok
    FROM pans
    """,
)
def dq_luhn_payment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-validated PII classification: Luhn mod-10 over planted
    16-digit PANs — half issued with the CORRECT ISO 7812 check digit,
    half off-by-one — detected with zero false positives/negatives by
    construction (`luhn_ok` must equal `doc_id % 2 = 0` row for row,
    and the value hash pins it). This is the step that upgrades regex
    PII detection (digit-shape matching, `text_pii_redaction`) to
    classification: a random 16-digit run passes a regex 100% of the
    time but Luhn only 10%. Generation uses the check-DIGIT formula,
    validation the full-sum formula — two independent derivations that
    must agree in both engines. Everything is one fused map-only array
    expression (reverse/zip_with/aggregate) — no Python, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 12),
        16,
        10,
    ).cast("long")
    base = F.concat(
        F.lit("4"),
        F.lpad((h % F.lit(100000000000000)).cast("string"), 14, "0"),
    )
    cd = Q.luhn_check_digit(base)
    pan = F.concat(
        base,
        F.when(F.col("doc_id") % 2 == 0, cd)
        .otherwise((cd + 1) % 10)
        .cast("string"),
    )
    return d.select(
        "doc_id",
        F.substring(pan, 13, 4).alias("pan_last4"),
        Q.luhn_valid(pan).alias("luhn_ok"),
    )


@query(
    "ml_pr_curve",
    """
    WITH scored AS (
        SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS label,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                   AS score
        FROM documents
    ),
    per_score AS (
        SELECT score,
               SUM(label) AS pos,
               COUNT(*) - SUM(label) AS neg
        FROM scored GROUP BY score
    ),
    tot AS (SELECT CAST(SUM(pos) AS DOUBLE) AS n_pos FROM per_score),
    cum AS (
        SELECT score AS threshold,
               SUM(pos) OVER (ORDER BY score DESC) AS tp,
               SUM(neg) OVER (ORDER BY score DESC) AS fp
        FROM per_score
    ),
    pr AS (
        SELECT threshold, tp, fp,
               CASE WHEN tp + fp = 0 THEN 0.0
                    ELSE tp / CAST(tp + fp AS DOUBLE) END AS p,
               CASE WHEN t.n_pos = 0 THEN 0.0 ELSE tp / t.n_pos END AS r
        FROM cum, tot t
    )
    SELECT threshold,
           CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           ROUND(p, 6) AS "precision",
           ROUND(r, 6) AS recall,
           ROUND(CASE WHEN p + r = 0 THEN 0.0
                      ELSE 2 * p * r / (p + r) END, 6) AS f1
    FROM pr
    """,
)
def ml_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 at every distinct cutoff of the word-count
    signal against the long-document label — the threshold sweep read
    NEXT TO `ml_auc_score` when picking a filter's operating point.
    Facts collapse to per-distinct-score counts first; the descending
    cumulative window runs over score cardinality (guarded, quantizable)
    — never rows."""
    from hudi_utility_spark.ops.mlfit import pr_curve

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        _long_doc().alias("label"),
        _words().cast("double").alias("score"),
    )
    return pr_curve(scored)


@query(
    "stat_mann_whitney",
    """
    WITH scored AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                   AS score
        FROM documents
    ),
    """ + _MID_RANKS + """,
    agg AS (
        SELECT SUM(pos * (cum_before + (cnt + 1) / 2.0)) AS rank_sum,
               SUM(pos) AS n1, SUM(neg) AS n2,
               SUM(cnt * cnt * cnt - cnt) AS tie_term
        FROM ranked
    )
    SELECT CAST(n1 AS BIGINT) AS n_pos,
           CAST(n2 AS BIGINT) AS n_neg,
           ROUND(rank_sum - n1 * (n1 + 1) / 2.0, 6) AS u_stat,
           ROUND((rank_sum - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
                 / sqrt(n1 * n2 / 12.0 * ((n1 + n2 + 1)
                        - tie_term / CAST((n1 + n2) * (n1 + n2 - 1)
                                          AS DOUBLE))), 6) AS z_score
    FROM agg
    """,
)
def stat_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U with exact tie correction: are English documents'
    word counts shifted against the rest of the corpus? The location
    test that pairs with `stat_ks_two_sample` (KS sees shape, U sees
    shift) — same collapse-to-distinct-scores scale shape, same guard,
    and the tie term falls out of the same aggregate for free."""
    from hudi_utility_spark.ops.mlfit import mann_whitney_u

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        (F.col("lang") == "en").cast("int").alias("label"),
        _words().cast("double").alias("score"),
    )
    return mann_whitney_u(scored)


@query(
    "dq_cohen_kappa",
    """
    WITH r AS (
        SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
               CASE WHEN len(string_split_regex(trim(text), '\\s+')) >= 50
                    THEN 1 ELSE 0 END AS b
        FROM documents
    ),
    c AS (SELECT a, b, COUNT(*) AS cnt FROM r GROUP BY a, b),
    tot AS (
        SELECT CAST(SUM(cnt) AS DOUBLE) AS n,
               CAST(SUM(CASE WHEN a = b THEN cnt ELSE 0 END) AS DOUBLE)
                   AS agree
        FROM c
    ),
    ma AS (SELECT a AS cat, SUM(cnt) AS na FROM c GROUP BY a),
    mb AS (SELECT b AS cat, SUM(cnt) AS nb FROM c GROUP BY b),
    pe AS (
        SELECT CAST(SUM(ma.na * mb.nb) AS DOUBLE) AS cross_sum
        FROM ma JOIN mb USING (cat)
    )
    SELECT CAST(t.n AS BIGINT) AS n,
           ROUND(t.agree / t.n, 6) AS po,
           ROUND(p.cross_sum / (t.n * t.n), 6) AS pe,
           ROUND((t.agree / t.n - p.cross_sum / (t.n * t.n))
                 / (1 - p.cross_sum / (t.n * t.n)), 6) AS kappa
    FROM tot t, pe p
    """,
)
def dq_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected agreement between two label heuristics (the
    char-length rater vs the word-count rater) — the labeled-data QC
    gate: raw agreement flatters skewed label distributions, kappa
    doesn't. Collapse to the k x k confusion relation first; every
    later relation is category-sized."""
    from hudi_utility_spark.ops.quality import cohen_kappa

    d = load_table(spark, sf_dir, "documents")
    rated = d.select(
        _long_doc().alias("a"),
        F.when(
            _words() >= 50, 1
        ).otherwise(0).alias("b"),
    )
    return cohen_kappa(rated, "a", "b")


@query(
    "ml_woe_iv",
    """
    WITH """ + _WORD_BINS + """,
    per_bin AS (
        SELECT bin, COUNT(*) AS n, SUM(label) AS pos_raw
        FROM scored GROUP BY bin
    ),
    t AS (
        SELECT bin, n, pos_raw + 0.5 AS pos, (n - pos_raw) + 0.5 AS neg,
               SUM(pos_raw + 0.5) OVER () AS post,
               SUM((n - pos_raw) + 0.5) OVER () AS negt
        FROM per_bin
    ),
    w AS (
        SELECT bin, n, pos, neg,
               ln((pos / post) / (neg / negt)) AS woe,
               (pos / post - neg / negt)
                   * ln((pos / post) / (neg / negt)) AS contrib
        FROM t
    )
    SELECT bin, CAST(n AS BIGINT) AS n,
           CAST(ROUND(pos, 6) AS DOUBLE) AS pos,
           CAST(ROUND(neg, 6) AS DOUBLE) AS neg,
           ROUND(woe, 6) AS woe,
           ROUND(SUM(contrib) OVER (), 6) AS iv
    FROM w
    """,
)
def ml_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information-Value of the word-count decile
    bins against the long-document label (0.5 additive smoothing) —
    the feature screen read next to `ml_calibration_bins`: WOE says
    which way each bin votes, IV says whether the feature is worth a
    model's attention. Facts collapse to the bin relation first;
    everything after is window math over <=10 rows."""
    from hudi_utility_spark.ops.mlfit import woe_iv

    binned = _word_bins(spark, sf_dir)
    return woe_iv(binned)


@query(
    "ml_target_encoding",
    """
    WITH d AS (
        SELECT doc_id, lang,
               CASE WHEN n_chars >= 300 THEN 1.0 ELSE 0.0 END AS label
        FROM documents
    ),
    p AS (SELECT AVG(label) AS prior FROM d),
    e AS (
        SELECT doc_id, lang, label,
               SUM(label) OVER (PARTITION BY lang) AS s,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM d
    )
    SELECT doc_id, lang,
           ROUND(CASE WHEN n > 1 THEN (s - label) / (n - 1)
                      ELSE p.prior END, 6) AS te
    FROM e, p
    """,
)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of `lang` against the long-doc
    label: each row gets the mean label of the OTHER rows in its
    category — leakage-free by construction (a singleton category
    falls back to the global prior). One category-keyed window pair +
    one broadcast prior; no second pass (ops/mlfit.py
    target_encode_loo)."""
    from hudi_utility_spark.ops.mlfit import target_encode_loo

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.when(F.col("n_chars") >= 300, 1.0).otherwise(0.0).alias("label"),
    )
    return target_encode_loo(d, "lang").select("doc_id", "lang", "te")


@query(
    "dq_benford_test",
    """
    WITH v AS (
        SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
        WHERE o_totalprice > 1e-12
    ),
    d AS (
        SELECT CAST(floor(v / power(10.0, floor(log10(v)))) AS INT)
                   AS digit
        FROM v
    ),
    pd AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    sp AS (SELECT CAST(range AS INT) AS digit FROM range(1, 10)),
    j AS (
        SELECT sp.digit, COALESCE(pd.n, 0) AS n
        FROM sp LEFT JOIN pd USING (digit)
    ),
    t AS (SELECT digit, n, SUM(n) OVER () AS nt FROM j)
    SELECT CAST(digit AS BIGINT) AS digit,
           CAST(n AS BIGINT) AS n,
           ROUND(n / CAST(nt AS DOUBLE), 6) AS share,
           ROUND(log10(1.0 + 1.0 / digit), 6) AS expected,
           ROUND(SUM((n - nt * log10(1.0 + 1.0 / digit))
                     * (n - nt * log10(1.0 + 1.0 / digit))
                     / (nt * log10(1.0 + 1.0 / digit))) OVER (), 6)
               AS chi2
    FROM t
    """,
)
def dq_benford_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of order totals: observed
    digit shares vs log10(1 + 1/d), with the 9-degree chi-squared
    statistic repeated per row (TPC-H prices are uniform-ish, so the
    statistic SHOULD be huge — the audit's job is to say so). First
    digit via pure codegen arithmetic, no string round-trip; facts
    collapse to 9 rows before any window (ops/quality.py
    benford_profile)."""
    from hudi_utility_spark.ops.quality import benford_profile

    o = load_table(spark, sf_dir, "orders")
    return benford_profile(o, "o_totalprice")


@query(
    "stat_welch_ttest",
    """
    WITH s AS (
        SELECT CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                   AS v,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
        FROM documents
    ),
    """ + _LABEL_SPLIT_SUMS + """,
    d AS (
        SELECT n1, n2, s1 / n1 - s2 / n2 AS mean_diff,
               (q1 - s1 * s1 / n1) / (n1 - 1) / n1 AS se1,
               (q2 - s2 * s2 / n2) / (n2 - 1) / n2 AS se2
        FROM agg
    )
    SELECT CAST(n1 AS BIGINT) AS n_pos,
           CAST(n2 AS BIGINT) AS n_neg,
           ROUND(mean_diff, 6) AS mean_diff,
           ROUND(mean_diff / sqrt(se1 + se2), 6) AS t_stat,
           ROUND((se1 + se2) * (se1 + se2)
                 / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 6) AS df
    FROM d
    """,
)
def stat_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on English vs non-English word
    counts — the parametric companion to `stat_mann_whitney` over the
    same two samples (means vs ranks; disagreement = look at the
    tails). Six sufficient statistics from ONE map-side-combinable
    aggregate, Welch-Satterthwaite df in closed form (ops/mlfit.py
    welch_ttest)."""
    from hudi_utility_spark.ops.mlfit import welch_ttest

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        _words().cast("double").alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return welch_ttest(scored)


@query(
    "ml_isotonic_calibration",
    """
    WITH """ + _WORD_BINS + """,
    per_bin AS (
        SELECT bin, COUNT(*) AS n, SUM(label) AS pos
        FROM scored GROUP BY bin
    ),
    pref AS (
        SELECT bin, n, pos,
               SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn,
               SUM(pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cpos
        FROM per_bin
    ),
    pairs AS (
        SELECT j.bin AS jb, k.bin AS kb,
               (k.cpos - (j.cpos - j.pos))
                   / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS mean_jk
        FROM pref j JOIN pref k ON j.bin <= k.bin
    ),
    m AS (
        SELECT jb, kb,
               MIN(mean_jk) OVER (PARTITION BY jb ORDER BY kb DESC
                                  ROWS UNBOUNDED PRECEDING) AS mjk
        FROM pairs
    ),
    iso AS (
        SELECT kb AS bin, MAX(mjk) AS iso_raw
        FROM m WHERE jb <= kb GROUP BY kb
    )
    SELECT p.bin, CAST(p.n AS BIGINT) AS n,
           ROUND(p.pos / CAST(p.n AS DOUBLE), 6) AS raw_rate,
           ROUND(i.iso_raw, 6) AS iso_rate
    FROM per_bin p JOIN iso i ON p.bin = i.bin
    """,
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration of the word-count decile bins against the
    long-document label via the MINIMAX closed form (max-min of
    interval means) instead of the sequential PAV scan — pure
    relational algebra over the collapsed bin relation, so the
    monotone fit is data-parallel AND oracle-checkable. Read after
    `ml_calibration_bins`: that query shows the raw reliability curve,
    this one is the monotone regression a downstream thresholder would
    actually consume (ops/mlfit.py isotonic_calibrate)."""
    from hudi_utility_spark.ops.mlfit import isotonic_calibrate

    binned = _word_bins(spark, sf_dir)
    return isotonic_calibrate(binned)


@query(
    "dq_column_entropy",
    """
    WITH vt AS (
        SELECT 'event_type' AS col, event_type AS val FROM events
        UNION ALL
        SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
        UNION ALL
        SELECT 'value_int', CAST(CAST(floor(value) AS BIGINT) AS VARCHAR)
        FROM events
    ),
    counts AS (
        SELECT col, val, COUNT(*) AS c FROM vt GROUP BY col, val
    ),
    agg AS (
        SELECT col,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(SUM(c) AS DOUBLE) AS n,
               SUM(c * ln(CAST(c AS DOUBLE))) AS slc
        FROM counts GROUP BY col
    )
    SELECT col, n_distinct,
           ROUND(ln(n) - slc / n, 6) AS entropy_nats,
           ROUND((ln(n) - slc / n) / ln(CAST(n_distinct AS DOUBLE)), 6)
               AS normalized
    FROM agg
    """,
)
def dq_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy profile of candidate key/partition columns —
    the information-content readout behind partition-key and bucketing
    choices (a near-zero normalized entropy means a skewed, useless
    key; near-one means uniform). Computed as ln(N) - sum(c ln c)/N so
    only ONE collapsed aggregate per column feeds it; the unpivot is a
    map-side stack, not three scans at the storage level (column
    pruning keeps each branch to its own column)."""
    ev = load_table(spark, sf_dir, "events")
    vt = (
        ev.select(F.lit("event_type").alias("col"), F.col("event_type").alias("val"))
        .unionByName(
            ev.select(
                F.lit("user_id").alias("col"),
                F.col("user_id").cast("string").alias("val"),
            )
        )
        .unionByName(
            ev.select(
                F.lit("value_int").alias("col"),
                F.floor("value").cast("long").cast("string").alias("val"),
            )
        )
    )
    counts = vt.groupBy("col", "val").agg(F.count(F.lit(1)).alias("c"))
    agg = counts.groupBy("col").agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum("c").cast("double").alias("n"),
        F.sum(F.col("c") * F.log(F.col("c").cast("double"))).alias("slc"),
    )
    h = F.log("n") - F.col("slc") / F.col("n")
    return agg.select(
        "col",
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.round(h, 6).alias("entropy_nats"),
        F.round(h / F.log(F.col("n_distinct").cast("double")), 6).alias(
            "normalized"
        ),
    )


@query(
    "ml_calibration_ece",
    """
    WITH """ + _WORD_BINS + """,
    per_bin AS (
        SELECT bin, COUNT(*) AS n,
               AVG(CAST(label AS DOUBLE)) AS rate,
               (bin + 0.5) / 10.0 AS conf
        FROM scored GROUP BY bin
    ),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS nt FROM per_bin)
    SELECT CAST(t.nt AS BIGINT) AS n,
           ROUND(SUM(p.n / t.nt * abs(p.rate - p.conf)), 6) AS ece,
           ROUND(MAX(abs(p.rate - p.conf)), 6) AS mce
    FROM per_bin p, tot t GROUP BY t.nt
    """,
)
def ml_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected / Maximum Calibration Error over the word-count decile
    bins, reading each bin's center as the model's claimed probability
    — the two scalars a reliability diagram (`ml_calibration_bins`)
    compresses to, and what `ml_isotonic_calibration` exists to drive
    toward zero. One bin-sized aggregate after the collapse."""
    per_bin = (
        _word_bins(spark, sf_dir)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.col("label").cast("double")).alias("rate"),
        )
        .withColumn("conf", (F.col("bin") + 0.5) / 10.0)
    )
    tot = per_bin.agg(F.sum("n").cast("double").alias("nt"))
    return per_bin.crossJoin(F.broadcast(tot)).agg(
        F.max("nt").cast("long").alias("n"),
        F.round(
            F.sum(F.col("n") / F.col("nt") * F.abs(F.col("rate") - F.col("conf"))),
            6,
        ).alias("ece"),
        F.round(F.max(F.abs(F.col("rate") - F.col("conf"))), 6).alias("mce"),
    )


def _perm_sql(n_perm: int) -> tuple[str, str]:
    """DuckDB rendition of the one-pass permutation expression set:
    identical md5-parity arm assignment, generated by the same loop
    shape as the Spark side. Returns the per-permutation arm-1 sum and
    count select list, and the count of permutations at least as
    extreme as the observed difference."""
    cols = []
    for b in range(n_perm):
        h = (
            "CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR) "
            f"|| '-perm-{b}'), 1, 2)) AS BIGINT) % 2 = 1"
        )
        cols.append(f"SUM(CASE WHEN {h} THEN value END) AS s{b}")
        cols.append(
            f"CAST(SUM(CASE WHEN {h} THEN 1 ELSE 0 END) AS DOUBLE) AS c{b}"
        )
    hits = " + ".join(
        f"(CASE WHEN abs(s{b} / c{b} - (sv - s{b}) / (n - c{b}))"
        " >= abs(sv1 / n1 - (sv - sv1) / (n - n1))"
        " THEN 1 ELSE 0 END)"
        for b in range(n_perm)
    )
    return ", ".join(cols), hits


def _perm_oracle(n_perm: int = 64) -> str:
    """DuckDB rendition of the one-pass permutation test."""
    cols, hits = _perm_sql(n_perm)
    return f"""
    WITH a AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(value) AS sv,
               SUM(CASE WHEN user_id % 2 = 1 THEN value END) AS sv1,
               CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS DOUBLE) AS n1,
               {cols}
        FROM events
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(sv1 / n1 - (sv - sv1) / (n - n1), 6) AS obs_diff,
           CAST({hits} AS BIGINT) AS n_extreme,
           ROUND((1 + ({hits})) / {float(n_perm + 1)!r}, 6) AS p_value
    FROM a
    """


@query("stat_permutation_test", _perm_oracle())
def stat_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the arm difference in mean event value,
    with all 64 permutations evaluated in ONE map-side-combinable
    aggregate pass: each permutation re-assigns rows via md5 parity —
    exchangeable under H0 exactly like a label shuffle, but with no
    global sort, no driver RNG, and engine-portable replay. The
    distributed answer to "you can't permute 100 TB" (ops/mlfit.py
    permutation_test)."""
    from hudi_utility_spark.ops.mlfit import permutation_test

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "value",
        (F.col("user_id") % 2).cast("int").alias("label"),
    )
    return permutation_test(
        ev, "event_id", "value", "label", n_perm=64, seed_tag="perm"
    )


@query(
    "ml_conformal_interval",
    """
    WITH base AS (
        SELECT event_type, value,
               CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 6))
                    AS BIGINT) % 2 AS split
        FROM events
    ),
    model AS (
        SELECT event_type, AVG(value) AS pred
        FROM base WHERE split = 0 GROUP BY event_type
    ),
    resid AS (
        SELECT b.event_type,
               ROUND(abs(b.value - m.pred), 4) AS r
        FROM base b JOIN model m USING (event_type)
        WHERE b.split = 0
    ),
    collapsed AS (
        SELECT event_type, r, COUNT(*) AS c FROM resid GROUP BY event_type, r
    ),
    sized AS (
        SELECT event_type, r, c,
               SUM(c) OVER (PARTITION BY event_type ORDER BY r
                            ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(c) OVER (PARTITION BY event_type) AS n_cal
        FROM collapsed
    ),
    q AS (
        SELECT event_type, MIN(r) AS qhat, MIN(n_cal) AS n_cal
        FROM sized
        WHERE cum >= ceil((n_cal + 1) * 0.9)
        GROUP BY event_type
    ),
    test AS (
        SELECT b.event_type,
               CASE WHEN ROUND(abs(b.value - m.pred), 4) <= q.qhat
                    THEN 1 ELSE 0 END AS covered
        FROM base b
        JOIN model m USING (event_type)
        JOIN q USING (event_type)
        WHERE b.split = 1
    )
    SELECT t.event_type,
           CAST(q.n_cal AS BIGINT) AS n_cal,
           ROUND(q.qhat, 4) AS qhat,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           ROUND(AVG(CAST(t.covered AS DOUBLE)), 6) AS coverage
    FROM test t JOIN q ON t.event_type = q.event_type
    GROUP BY t.event_type, q.n_cal, q.qhat
    """,
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (Vovk; the
    distribution-free coverage guarantee modern ML ships with): an
    md5 half of the events calibrates |value - per-type-mean|
    residuals, qhat is the EXACT ceil((n+1)·0.9)-th order statistic —
    taken over the COLLAPSED (residual, count) relation so the ordered
    window runs over quantized-residual cardinality, never rows (the
    4dp quantization is the documented price of exactness at scale) —
    and the held-out half must then be covered at >= ~90%. The
    conformal guarantee itself becomes a value-hash-checked result."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "value",
        phash.md5_parity(F.col("event_id").cast("string")).alias("split"),
    )
    model = base.filter(F.col("split") == 0).groupBy("event_type").agg(
        F.avg("value").alias("pred")
    )
    resid = (
        base.filter(F.col("split") == 0)
        .join(F.broadcast(model), "event_type")
        .select(
            "event_type",
            F.round(F.abs(F.col("value") - F.col("pred")), 4).alias("r"),
        )
    )
    collapsed = resid.groupBy("event_type", "r").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cum = Window.partitionBy("event_type").orderBy("r").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy("event_type")
    sized = collapsed.select(
        "event_type",
        "r",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n_cal"),
    )
    q = (
        sized.filter(
            F.col("cum") >= F.ceil((F.col("n_cal") + 1) * 0.9)
        )
        .groupBy("event_type")
        .agg(F.min("r").alias("qhat"), F.min("n_cal").alias("n_cal"))
    )
    test = (
        base.filter(F.col("split") == 1)
        .join(F.broadcast(model), "event_type")
        .join(F.broadcast(q), "event_type")
        .select(
            "event_type",
            "n_cal",
            "qhat",
            # round the TEST residual to the same 4dp as the calibration
            # side: qhat is a 4dp order statistic and pred a distributed
            # mean, so unrounded comparison can flip exact-tie coverage
            # across engines/partitionings (ADVICE r8)
            (F.round(F.abs(F.col("value") - F.col("pred")), 4) <= F.col("qhat"))
            .cast("int")
            .alias("covered"),
        )
    )
    return test.groupBy("event_type", "n_cal", "qhat").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.round(F.avg(F.col("covered").cast("double")), 6).alias("coverage"),
    ).select(
        "event_type",
        F.col("n_cal").cast("long").alias("n_cal"),
        F.round("qhat", 4).alias("qhat"),
        "n_test",
        "coverage",
    )


@query(
    "stat_kruskal_wallis",
    """
    WITH per AS (
        SELECT value AS v, event_type AS g, COUNT(*) AS c
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    vals AS (SELECT v, SUM(c) AS cnt FROM per GROUP BY v),
    ranked AS (
        SELECT v, cnt,
               SUM(cnt) OVER (ORDER BY v) - cnt + (cnt + 1) / 2.0 AS avg_rank
        FROM vals
    ),
    grp AS (
        SELECT g, SUM(c) AS n_j, SUM(c * r.avg_rank) AS r_j
        FROM per JOIN ranked r USING (v) GROUP BY g
    ),
    ties AS (
        SELECT CAST(SUM(cnt) AS DOUBLE) AS n,
               SUM(cnt * cnt * cnt - cnt) AS tie_term
        FROM vals
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS INTEGER) AS k_groups,
               SUM(r_j * r_j / n_j) AS rr
        FROM grp
    )
    SELECT CAST(t.n AS BIGINT) AS n, a.k_groups,
           ROUND(12.0 / (t.n * (t.n + 1)) * a.rr - 3 * (t.n + 1), 6) AS h_stat,
           ROUND((12.0 / (t.n * (t.n + 1)) * a.rr - 3 * (t.n + 1))
                 / (1 - t.tie_term / (t.n * t.n * t.n - t.n)), 6)
               AS h_tie_corrected
    FROM agg a, ties t
    """,
)
def stat_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the five event types' value
    distributions — the k-sample extension of `stat_mann_whitney`
    (ops/mlfit.py kruskal_wallis). Collapse-then-rank shape: the
    cumulative rank window runs over value cardinality (bounded-
    distinct-guarded), never facts; exact tie correction."""
    from hudi_utility_spark.ops.mlfit import kruskal_wallis

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return kruskal_wallis(ev, value_col="value", group_col="event_type")


@query(
    "stat_brown_forsythe",
    """
    WITH med AS (
        SELECT event_type AS g, quantile_cont(value, 0.5) AS med
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    z AS (
        SELECT e.event_type AS g, abs(e.value - m.med) AS z
        FROM events e JOIN med m ON e.event_type = m.g
        WHERE e.value IS NOT NULL
    ),
    per_g AS (
        SELECT g, CAST(COUNT(*) AS DOUBLE) AS n_j,
               SUM(z) AS s_j, SUM(z * z) AS q_j
        FROM z GROUP BY g
    ),
    agg AS (
        SELECT SUM(n_j) AS n, CAST(COUNT(*) AS DOUBLE) AS k, SUM(s_j) AS s,
               SUM(q_j - s_j * s_j / n_j) AS ssw,
               SUM(s_j * s_j / n_j) AS ssb_part
        FROM per_g
    )
    SELECT CAST(a.n AS BIGINT) AS n, CAST(a.k AS INTEGER) AS k_groups,
           ROUND(((a.ssb_part - a.s * a.s / a.n) / (a.k - 1))
                 / (a.ssw / (a.n - a.k)), 6) AS f_stat,
           CAST(a.k - 1 AS BIGINT) AS df1,
           CAST(a.n - a.k AS BIGINT) AS df2
    FROM agg a
    """,
)
def stat_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) equality-of-variance test
    across event types — the robust pre-check before pooled-variance
    methods (ops/mlfit.py brown_forsythe). Per-group medians from ONE
    exact interpolating percentile aggregate (k rows, broadcast back);
    the F statistic is closed-form from two map-side-combinable
    aggregates — no |x−median| column ever materializes."""
    from hudi_utility_spark.ops.mlfit import brown_forsythe

    ev = load_table(spark, sf_dir, "events")
    return brown_forsythe(ev, value_col="value", group_col="event_type")


@query(
    "stat_g_test",
    """
    WITH obs AS (
        SELECT event_type AS r, CAST(floor(value / 100) AS INTEGER) AS c,
               COUNT(*) AS o
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    rm AS (SELECT r, SUM(o) AS rt FROM obs GROUP BY r),
    cm AS (SELECT c, SUM(o) AS ct FROM obs GROUP BY c),
    tot AS (SELECT CAST(SUM(o) AS DOUBLE) AS n FROM obs),
    grid AS (
        SELECT t.n, CAST(COALESCE(o.o, 0) AS DOUBLE) AS o,
               rm.rt * cm.ct / t.n AS e
        FROM rm CROSS JOIN cm
        LEFT JOIN obs o ON o.r = rm.r AND o.c = cm.c, tot t
    ),
    dims AS (
        SELECT (SELECT COUNT(*) FROM rm) AS nr, (SELECT COUNT(*) FROM cm) AS nc
    )
    SELECT CAST(MAX(g.n) AS BIGINT) AS n,
           ROUND(2 * SUM(CASE WHEN g.o > 0 THEN g.o * ln(g.o / g.e)
                              ELSE 0 END), 6) AS g_stat,
           CAST(MAX((d.nr - 1) * (d.nc - 1)) AS BIGINT) AS dof
    FROM grid g, dims d
    """,
)
def stat_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test of independence (likelihood-ratio chi-square, Dunning
    1993) between event type and value band — the log-likelihood twin
    of `stat_chi2_independence`, preferred for n-gram association
    because G is additive across table partitions (ops/mlfit.py
    g_test). Expected counts are the broadcast outer product of the two
    marginal relations; zero cells contribute 0."""
    from hudi_utility_spark.ops.mlfit import g_test

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.col("event_type").alias("r"),
            F.floor(F.col("value") / 100).cast("int").alias("c"),
        )
    )
    return g_test(ev, row_col="r", col_col="c")


@query(
    "stat_cramer_von_mises",
    _CLICK_PURCHASE_VALS
    + """,
    cum AS (
        SELECT ca + cb AS cx,
               SUM(ca) OVER (ORDER BY value) AS cca,
               SUM(cb) OVER (ORDER BY value) AS ccb
        FROM vals
    )
    SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
           ROUND(t.na * t.nb / ((t.na + t.nb) * (t.na + t.nb))
                 * SUM(cx * (c.cca / t.na - c.ccb / t.nb)
                          * (c.cca / t.na - c.ccb / t.nb)), 6) AS cvm_stat
    FROM cum c, tot t GROUP BY t.na, t.nb
    """,
)
def stat_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises criterion (ECDF form: the
    count-weighted integrated squared ECDF gap,
    n₁n₂/N² · Σ_x c_x (F₁−F₂)²) between click and purchase value
    distributions — the WHOLE-distribution drift statistic next to
    KS's max-gap (KS sees the worst point; CvM accumulates every
    point, so it catches diffuse drift KS underweights). Identical
    collapse-then-cumulate shape as `stat_ks_two_sample`: one hash
    aggregate to per-distinct-value counts, one ordered window over
    value cardinality (bounded-distinct-guarded), one scalar."""
    from pyspark.sql import Window

    vals, tot = _click_purchase_counts(spark, sf_dir, "stat_cramer_von_mises", "ECDF")
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    cum = vals.select(
        (F.col("ca") + F.col("cb")).alias("cx"),
        F.sum("ca").over(w).alias("cca"),
        F.sum("cb").over(w).alias("ccb"),
    )
    gap = F.col("cca") / F.col("na") - F.col("ccb") / F.col("nb")
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(
            F.round(
                F.col("na")
                * F.col("nb")
                / ((F.col("na") + F.col("nb")) * (F.col("na") + F.col("nb")))
                * F.sum(F.col("cx") * gap * gap),
                6,
            ).alias("cvm_stat")
        )
        .select(
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            "cvm_stat",
        )
    )


@query(
    "dq_t_closeness",
    """
    WITH d AS (
        SELECT lang, source, CAST(n_chars % 4 AS INTEGER) AS sb
        FROM documents
    ),
    per AS (SELECT lang, source, sb, COUNT(*) AS c FROM d GROUP BY 1, 2, 3),
    classes AS (
        SELECT lang, source, COUNT(*) AS class_size FROM d GROUP BY 1, 2
    ),
    grid AS (
        SELECT cl.lang, cl.source, cl.class_size, b.b,
               COALESCE(per.c, 0) AS c
        FROM classes cl
        CROSS JOIN (SELECT CAST(range AS INTEGER) AS b FROM range(0, 4)) b
        LEFT JOIN per ON per.lang = cl.lang AND per.source = cl.source
                     AND per.sb = b.b
    ),
    gcdf AS (
        SELECT sb AS b,
               SUM(COUNT(*)) OVER (ORDER BY sb)
                   / (SELECT CAST(COUNT(*) AS DOUBLE) FROM d) AS gp
        FROM d GROUP BY sb
    ),
    cdf AS (
        SELECT g.lang, g.source, g.class_size,
               SUM(g.c) OVER (PARTITION BY g.lang, g.source ORDER BY g.b
                              ROWS UNBOUNDED PRECEDING)
                   / CAST(g.class_size AS DOUBLE) AS cp,
               gc.gp
        FROM grid g JOIN gcdf gc ON g.b = gc.b
    )
    SELECT lang, source, CAST(class_size AS BIGINT) AS class_size,
           ROUND(SUM(ABS(cp - gp)) / 3.0, 6) AS emd,
           ROUND(SUM(ABS(cp - gp)) / 3.0, 6) > 0.2 AS violates_t
    FROM cdf GROUP BY lang, source, class_size
    """,
)
def dq_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit over (lang, source) with the same derived
    sensitive length-bucket as `dq_l_diversity` (ops/quality.py
    t_closeness_audit): classes whose sensitive DISTRIBUTION drifts
    more than t=0.2 ordinal-EMD from the global one leak through both
    k-anonymity and l-diversity (skewness attack) — this completes the
    anonymity triad as first-class audits. Per-class CDF windows run
    over m=4 rows per QI key; the global CDF is 4 literal scalars."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "sb", (F.col("n_chars") % 4).cast("int")
    )
    return Q.t_closeness_audit(d, ["lang", "source"], "sb", m=4, t=0.2)


def _ranked_perm_pvalues(n_perm: int) -> str:
    """Grouped permutation p-values (GROUP BY event_type over the
    `_perm_sql` expression set), ranked ascending: the CTEs the Holm
    and BH oracles share."""
    cols, hits = _perm_sql(n_perm)
    return f"""
    WITH a AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(value) AS sv,
               SUM(CASE WHEN user_id % 2 = 1 THEN value END) AS sv1,
               CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS DOUBLE) AS n1,
               {cols}
        FROM events GROUP BY event_type
    ),
    p AS (
        SELECT event_type,
               ROUND((1 + ({hits})) / {float(n_perm + 1)!r}, 6) AS p_value
        FROM a
    ),
    ranked AS (
        SELECT event_type, p_value,
               CAST(ROW_NUMBER() OVER (ORDER BY p_value, event_type)
                    AS INTEGER) AS rank,
               COUNT(*) OVER () AS m
        FROM p
    )"""


def _holm_oracle(n_perm: int = 64) -> str:
    """`_ranked_perm_pvalues` + the Holm step-down as a running-max
    window."""
    return _ranked_perm_pvalues(n_perm) + """
    SELECT event_type, p_value, rank,
           ROUND(LEAST(MAX((m - rank + 1) * p_value)
                           OVER (ORDER BY p_value, event_type
                                 ROWS UNBOUNDED PRECEDING), 1.0), 6)
               AS p_adjusted,
           ROUND(LEAST(MAX((m - rank + 1) * p_value)
                           OVER (ORDER BY p_value, event_type
                                 ROWS UNBOUNDED PRECEDING), 1.0), 6) < 0.05
               AS reject
    FROM ranked
    """


def _type_parity_pvalues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type permutation p-values of the user-parity A/A split:
    all 64 permutations for every type in ONE grouped aggregate."""
    from hudi_utility_spark.ops.mlfit import grouped_permutation_pvalues

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        (F.col("user_id") % 2).cast("int").alias("arm"),
    )
    ps = grouped_permutation_pvalues(
        ev, "event_type", "event_id", "value", "arm", n_perm=64
    )
    return ps.select("event_type", "p_value")


@query("stat_holm_bonferroni", _holm_oracle())
def stat_holm_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm step-down multiple-testing correction over five
    simultaneous per-event-type permutation tests (ops/mlfit.py
    grouped_permutation_pvalues + holm_bonferroni): the user-parity
    split is an A/A null within every type, so the corrected family
    must reject nothing — the "k metrics, one intervention" guardrail
    every experiment dashboard needs, as one scan (all 64 permutations
    for all 5 groups in ONE grouped aggregate) plus windows over the
    5-row p-value relation."""
    from hudi_utility_spark.ops.mlfit import holm_bonferroni

    return holm_bonferroni(
        _type_parity_pvalues(spark, sf_dir),
        p_col="p_value",
        key_col="event_type",
    )


def _bh_oracle(n_perm: int = 64) -> str:
    """`_ranked_perm_pvalues` + the BH step-up as a reverse running-min
    window."""
    return _ranked_perm_pvalues(n_perm) + """
    SELECT event_type, p_value, rank,
           ROUND(MIN(LEAST(m * p_value / rank, 1.0))
                     OVER (ORDER BY p_value, event_type
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
                 6) AS q_value,
           ROUND(MIN(LEAST(m * p_value / rank, 1.0))
                     OVER (ORDER BY p_value, event_type
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
                 6) < 0.05 AS discovery
    FROM ranked
    """


@query("stat_bh_fdr", _bh_oracle())
def stat_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR q-values over the same five per-type A/A
    permutation tests as `stat_holm_bonferroni` (ops/mlfit.py
    benjamini_hochberg): step-UP false-discovery control for the
    "screen hundreds of segments, expect some real effects" regime
    where Holm's family-wise guarantee is too conservative. One grouped
    aggregate for all tests; the reverse running-min window runs over
    the 5-row p-value relation."""
    from hudi_utility_spark.ops.mlfit import benjamini_hochberg

    return benjamini_hochberg(
        _type_parity_pvalues(spark, sf_dir),
        p_col="p_value",
        key_col="event_type",
    )


@query(
    "stat_wilcoxon_signed_rank",
    """
    WITH base AS (
        SELECT user_id,
               CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 6))
                    AS BIGINT) % 2 AS half,
               value
        FROM events WHERE value IS NOT NULL
    ),
    pairs AS (
        SELECT user_id,
               AVG(CASE WHEN half = 1 THEN value END)
               - AVG(CASE WHEN half = 0 THEN value END) AS d
        FROM base GROUP BY user_id
        HAVING COUNT(CASE WHEN half = 1 THEN 1 END) > 0
           AND COUNT(CASE WHEN half = 0 THEN 1 END) > 0
    ),
    nz AS (SELECT d FROM pairs WHERE d != 0),
    per AS (
        SELECT ABS(d) AS ad, COUNT(*) AS cnt,
               SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS pos
        FROM nz GROUP BY ABS(d)
    ),
    ranked AS (
        SELECT cnt, pos,
               SUM(cnt) OVER (ORDER BY ad) - cnt + (cnt + 1) / 2.0 AS avg_rank
        FROM per
    ),
    agg AS (
        SELECT CAST(SUM(cnt) AS DOUBLE) AS n,
               SUM(pos * avg_rank) AS w_plus,
               SUM(cnt * cnt * cnt - cnt) AS tie_term
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           ROUND(w_plus, 2) AS w_plus,
           ROUND((w_plus - n * (n + 1) / 4.0)
                 / sqrt(n * (n + 1) * (2 * n + 1) / 24.0 - tie_term / 48.0),
                 6) AS z_stat
    FROM agg
    """,
)
def stat_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on per-user paired differences (each
    user's mean value in one md5 half of their events vs the other — an
    A/A null, so z should hover near 0): the PAIRED nonparametric test
    completing the family next to Mann-Whitney and Kruskal-Wallis
    (ops/mlfit.py wilcoxon_signed_rank). Per-user pairing is one hash
    aggregate; |d| ranks run over the collapsed distinct-|d| relation
    with exact tie correction."""
    from hudi_utility_spark.ops.mlfit import wilcoxon_signed_rank

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.select(
        "user_id",
        phash.md5_parity(F.col("event_id").cast("string")).alias("half"),
        "value",
    )
    pairs = (
        base.groupBy("user_id")
        .agg(
            F.avg(F.when(F.col("half") == 1, F.col("value"))).alias("m1"),
            F.avg(F.when(F.col("half") == 0, F.col("value"))).alias("m0"),
        )
        .filter(F.col("m1").isNotNull() & F.col("m0").isNotNull())
        .select((F.col("m1") - F.col("m0")).alias("d"))
    )
    return wilcoxon_signed_rank(pairs, diff_col="d")


@query(
    "stat_cohens_d",
    """
    WITH s AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                   AS v
        FROM documents
    ),
    """ + _LABEL_SPLIT_SUMS + """,
    d AS (
        SELECT n1, n2,
               s1 / n1 - s2 / n2 AS mean_diff,
               sqrt(((q1 - s1 * s1 / n1) + (q2 - s2 * s2 / n2))
                    / (n1 + n2 - 2)) AS sp
        FROM agg
    )
    SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n2 AS BIGINT) AS n_neg,
           ROUND(mean_diff, 6) AS mean_diff,
           ROUND(mean_diff / sp, 6) AS cohens_d,
           ROUND((mean_diff / sp)
                 * (1 - 3.0 / (4 * (n1 + n2) - 9)), 6) AS hedges_g
    FROM d
    """,
)
def stat_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d and Hedges' g standardized effect sizes for the
    English-vs-rest word-count difference — the magnitude readout the
    significance tests (Welch/Mann-Whitney over the same samples)
    deliberately don't give: at 100 TB everything is 'significant', and
    d says whether it MATTERS. Pooled-SD closed form from the same six
    sufficient statistics as `stat_welch_ttest` (one map-combinable
    aggregate, null-consistent counts); Hedges' g applies the
    small-sample bias correction 1 − 3/(4N−9)."""
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    v = _words().cast("double")
    is1 = (F.col("lang") == "en").cast("int") == 1
    agg = d.select(v.alias("v"), is1.alias("is1")).agg(
        F.sum(F.when(F.col("is1") & F.col("v").isNotNull(), 1).otherwise(0))
        .cast("double")
        .alias("n1"),
        F.sum(F.when(F.col("is1"), F.col("v")).otherwise(0.0)).alias("s1"),
        F.sum(F.when(F.col("is1"), F.col("v") * F.col("v")).otherwise(0.0)).alias(
            "q1"
        ),
        F.sum(
            F.when(~F.col("is1") & F.col("v").isNotNull(), 1).otherwise(0)
        )
        .cast("double")
        .alias("n2"),
        F.sum(F.when(~F.col("is1"), F.col("v")).otherwise(0.0)).alias("s2"),
        F.sum(
            F.when(~F.col("is1"), F.col("v") * F.col("v")).otherwise(0.0)
        ).alias("q2"),
    )
    md = F.col("s1") / F.col("n1") - F.col("s2") / F.col("n2")
    sp = F.sqrt(
        (
            (F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1"))
            + (F.col("q2") - F.col("s2") * F.col("s2") / F.col("n2"))
        )
        / (F.col("n1") + F.col("n2") - 2)
    )
    dval = md / sp
    return agg.select(
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n2").cast("long").alias("n_neg"),
        F.round(md, 6).alias("mean_diff"),
        F.round(dval, 6).alias("cohens_d"),
        F.round(
            dval * (1 - 3.0 / (4 * (F.col("n1") + F.col("n2")) - 9)), 6
        ).alias("hedges_g"),
    )


@query(
    "ml_lift_gains_curve",
    """
    WITH base AS (
        SELECT value AS score,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        FROM events WHERE value IS NOT NULL
    ),
    b AS (
        SELECT quantile_cont(score, [0.1, 0.2, 0.3, 0.4, 0.5,
                                     0.6, 0.7, 0.8, 0.9]) AS qs
        FROM base
    ),
    seg AS (
        SELECT CAST(1 + (score > b.qs[1])::INT + (score > b.qs[2])::INT
                      + (score > b.qs[3])::INT + (score > b.qs[4])::INT
                      + (score > b.qs[5])::INT + (score > b.qs[6])::INT
                      + (score > b.qs[7])::INT + (score > b.qs[8])::INT
                      + (score > b.qs[9])::INT AS INTEGER) AS decile,
               pos
        FROM base, b
    ),
    per AS (
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS positives
        FROM seg GROUP BY decile
    ),
    tot AS (
        SELECT CAST(SUM(n) AS DOUBLE) AS tn, CAST(SUM(positives) AS DOUBLE) AS tp
        FROM per
    )
    SELECT decile, n, positives,
           ROUND(SUM(positives) OVER (ORDER BY decile DESC
                                      ROWS UNBOUNDED PRECEDING)
                 / t.tp, 6) AS cum_capture,
           ROUND((SUM(positives) OVER (ORDER BY decile DESC
                                       ROWS UNBOUNDED PRECEDING)
                  / t.tp)
                 / (SUM(n) OVER (ORDER BY decile DESC
                                 ROWS UNBOUNDED PRECEDING) / t.tn), 6)
               AS lift
    FROM per, tot t
    """,
)
def ml_lift_gains_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift curve by score decile (score = event
    value, positive = purchase): targeting the top-k% by score, what
    fraction of all positives is captured and at what lift over random
    — the campaign/risk-targeting readout next to the PR curve and AUC
    (PR asks "precision at a cutoff", lift asks "how much better than
    mailing everyone"). Decile BOUNDARIES come from one exact
    percentile aggregate (9 scalars broadcast, map-only binning — the
    RFM discipline, never an NTILE over facts); the cumulative windows
    run over the 10-row decile relation."""
    from pyspark.sql import Window, functions as F

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.select(
        F.col("value").alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("pos"),
    )
    probs = F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
    b = base.agg(F.percentile("score", probs).alias("qs"))
    seg_expr = F.lit(1)
    for i in range(1, 10):
        seg_expr = seg_expr + (
            F.col("score") > F.element_at(F.col("qs"), i)
        ).cast("int")
    per = (
        base.crossJoin(F.broadcast(b))
        .select(seg_expr.cast("int").alias("decile"), "pos")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pos").alias("positives"),
        )
    )
    tot = per.agg(
        F.sum("n").cast("double").alias("tn"),
        F.sum("positives").cast("double").alias("tp"),
    )
    w = Window.orderBy(F.desc("decile")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n",
            "positives",
            F.round(
                F.sum("positives").over(w) / F.col("tp"), 6
            ).alias("cum_capture"),
            F.round(
                (F.sum("positives").over(w) / F.col("tp"))
                / (F.sum("n").over(w) / F.col("tn")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "stat_mcnemar",
    """
    WITH base AS (
        SELECT user_id,
               CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 6))
                    AS BIGINT) % 2 AS half,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
        FROM events
    ),
    pairs AS (
        SELECT user_id,
               MAX(CASE WHEN half = 0 THEN conv ELSE 0 END) AS a0,
               MAX(CASE WHEN half = 1 THEN conv ELSE 0 END) AS a1
        FROM base GROUP BY user_id
        HAVING COUNT(CASE WHEN half = 0 THEN 1 END) > 0
           AND COUNT(CASE WHEN half = 1 THEN 1 END) > 0
    ),
    cells AS (
        SELECT CAST(SUM(CASE WHEN a0 = 1 AND a1 = 0 THEN 1 ELSE 0 END)
                    AS DOUBLE) AS b,
               CAST(SUM(CASE WHEN a0 = 0 AND a1 = 1 THEN 1 ELSE 0 END)
                    AS DOUBLE) AS c,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs
    )
    SELECT n_pairs, CAST(b AS BIGINT) AS b_discordant,
           CAST(c AS BIGINT) AS c_discordant,
           ROUND(CASE WHEN b + c = 0 THEN 0.0
                      ELSE (b - c) * (b - c) / (b + c) END, 6)
               AS mcnemar_chi2
    FROM cells
    """,
)
def stat_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes — the 2×2 marginal-
    homogeneity check (did the conversion RATE change between the two
    conditions each subject experienced), completing the paired corner
    of the test family next to Wilcoxon's paired-continuous case. Only
    the discordant cells matter: chi2(1df) = (b−c)²/(b+c). Per-user
    pairing (converted in md5 half 0 vs half 1 — an A/A null here) is
    one hash aggregate; the statistic is three scalars."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        phash.md5_parity(F.col("event_id").cast("string")).alias("half"),
        (F.col("event_type") == "purchase").cast("int").alias("conv"),
    )
    pairs = (
        base.groupBy("user_id")
        .agg(
            F.max(F.when(F.col("half") == 0, F.col("conv")).otherwise(0)).alias("a0"),
            F.max(F.when(F.col("half") == 1, F.col("conv")).otherwise(0)).alias("a1"),
            F.sum((F.col("half") == 0).cast("int")).alias("n0"),
            F.sum((F.col("half") == 1).cast("int")).alias("n1"),
        )
        .filter((F.col("n0") > 0) & (F.col("n1") > 0))
    )
    cells = pairs.agg(
        F.sum(((F.col("a0") == 1) & (F.col("a1") == 0)).cast("int"))
        .cast("double")
        .alias("b"),
        F.sum(((F.col("a0") == 0) & (F.col("a1") == 1)).cast("int"))
        .cast("double")
        .alias("c"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    chi2 = F.when(F.col("b") + F.col("c") == 0, F.lit(0.0)).otherwise(
        (F.col("b") - F.col("c"))
        * (F.col("b") - F.col("c"))
        / (F.col("b") + F.col("c"))
    )
    return cells.select(
        "n_pairs",
        F.col("b").cast("long").alias("b_discordant"),
        F.col("c").cast("long").alias("c_discordant"),
        F.round(chi2, 6).alias("mcnemar_chi2"),
    )


@query(
    "ml_brier_murphy",
    """
    WITH base AS (
        SELECT LEAST(GREATEST(value / 450.0, 0.0), 1.0) AS p,
               CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS o
        FROM events WHERE value IS NOT NULL
    ),
    binned AS (
        SELECT CAST(LEAST(floor(p * 10), 9) AS INTEGER) AS bin, p, o
        FROM base
    ),
    per AS (
        SELECT bin, CAST(COUNT(*) AS DOUBLE) AS nk,
               AVG(p) AS pk, AVG(o) AS ok_
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(SUM(nk) AS DOUBLE) AS n,
               SUM(nk * ok_) / SUM(nk) AS obar
        FROM per
    ),
    parts AS (
        SELECT SUM(per.nk * (per.pk - per.ok_) * (per.pk - per.ok_)) / t.n
                   AS reliability,
               SUM(per.nk * (per.ok_ - t.obar) * (per.ok_ - t.obar)) / t.n
                   AS resolution,
               t.obar * (1 - t.obar) AS uncertainty,
               t.n AS n
        FROM per, tot t GROUP BY t.n, t.obar
    ),
    brier AS (SELECT AVG((p - o) * (p - o)) AS bs FROM base)
    SELECT CAST(parts.n AS BIGINT) AS n,
           ROUND(brier.bs, 6) AS brier_score,
           ROUND(parts.reliability, 6) AS reliability,
           ROUND(parts.resolution, 6) AS resolution,
           ROUND(parts.uncertainty, 6) AS uncertainty,
           ROUND(parts.reliability - parts.resolution + parts.uncertainty,
                 6) AS murphy_sum
    FROM parts, brier
    """,
)
def ml_brier_murphy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy decomposition (reliability −
    resolution + uncertainty over 10 probability bins) — the proper
    scoring rule that splits forecast error into calibration
    (reliability: are the probabilities honest) and discrimination
    (resolution: do they separate outcomes), the readout ECE/isotonic
    calibration act on. Pseudo-probability = value/450 clamped, outcome
    = purchase. One fact aggregate for the raw score + one 10-row bin
    collapse for the decomposition; `murphy_sum` reports the
    decomposition identity (equal to the binned Brier, differing from
    the raw score only by within-bin variance — both engines agree on
    all six scalars)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.select(
        F.least(F.greatest(F.col("value") / 450.0, F.lit(0.0)), F.lit(1.0)).alias(
            "p"
        ),
        (F.col("event_type") == "purchase").cast("double").alias("o"),
    )
    binned = base.select(
        F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("int").alias("bin"),
        "p",
        "o",
    )
    per = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("double").alias("nk"),
        F.avg("p").alias("pk"),
        F.avg("o").alias("ok_"),
    )
    tot = per.agg(
        F.sum("nk").alias("n"),
        (F.sum(F.col("nk") * F.col("ok_")) / F.sum("nk")).alias("obar"),
    )
    parts = (
        per.crossJoin(F.broadcast(tot))
        .groupBy("n", "obar")
        .agg(
            (
                F.sum(
                    F.col("nk")
                    * (F.col("pk") - F.col("ok_"))
                    * (F.col("pk") - F.col("ok_"))
                )
                / F.first("n")
            ).alias("reliability"),
            (
                F.sum(
                    F.col("nk")
                    * (F.col("ok_") - F.col("obar"))
                    * (F.col("ok_") - F.col("obar"))
                )
                / F.first("n")
            ).alias("resolution"),
        )
        .select(
            "n",
            "reliability",
            "resolution",
            (F.col("obar") * (1 - F.col("obar"))).alias("uncertainty"),
        )
    )
    brier = base.agg(
        F.avg((F.col("p") - F.col("o")) * (F.col("p") - F.col("o"))).alias("bs")
    )
    return parts.crossJoin(F.broadcast(brier)).select(
        F.col("n").cast("long").alias("n"),
        F.round("bs", 6).alias("brier_score"),
        F.round("reliability", 6).alias("reliability"),
        F.round("resolution", 6).alias("resolution"),
        F.round("uncertainty", 6).alias("uncertainty"),
        F.round(
            F.col("reliability") - F.col("resolution") + F.col("uncertainty"),
            6,
        ).alias("murphy_sum"),
    )


@query(
    "dq_referential_integrity",
    """
    SELECT fk_edge, child_rows, orphan_rows, orphan_rows = 0 AS ok
    FROM (
      SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS fk_edge,
             (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL)
                 AS child_rows,
             (SELECT COUNT(*) FROM lineitem c
              WHERE c.l_orderkey IS NOT NULL AND NOT EXISTS
                (SELECT 1 FROM orders p WHERE p.o_orderkey = c.l_orderkey))
                 AS orphan_rows
      UNION ALL
      SELECT 'lineitem.l_partkey->part.p_partkey',
             (SELECT COUNT(*) FROM lineitem WHERE l_partkey IS NOT NULL),
             (SELECT COUNT(*) FROM lineitem c
              WHERE c.l_partkey IS NOT NULL AND NOT EXISTS
                (SELECT 1 FROM part p WHERE p.p_partkey = c.l_partkey))
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier.s_suppkey',
             (SELECT COUNT(*) FROM lineitem WHERE l_suppkey IS NOT NULL),
             (SELECT COUNT(*) FROM lineitem c
              WHERE c.l_suppkey IS NOT NULL AND NOT EXISTS
                (SELECT 1 FROM supplier p WHERE p.s_suppkey = c.l_suppkey))
      UNION ALL
      SELECT 'orders.o_custkey->customer.c_custkey',
             (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL),
             (SELECT COUNT(*) FROM orders c
              WHERE c.o_custkey IS NOT NULL AND NOT EXISTS
                (SELECT 1 FROM customer p WHERE p.c_custkey = c.o_custkey))
      UNION ALL
      SELECT 'customer.c_nationkey->nation.n_nationkey',
             (SELECT COUNT(*) FROM customer WHERE c_nationkey IS NOT NULL),
             (SELECT COUNT(*) FROM customer c
              WHERE c.c_nationkey IS NOT NULL AND NOT EXISTS
                (SELECT 1 FROM nation p WHERE p.n_nationkey = c.c_nationkey))
      UNION ALL
      SELECT 'supplier.s_nationkey->nation.n_nationkey',
             (SELECT COUNT(*) FROM supplier WHERE s_nationkey IS NOT NULL),
             (SELECT COUNT(*) FROM supplier c
              WHERE c.s_nationkey IS NOT NULL AND NOT EXISTS
                (SELECT 1 FROM nation p WHERE p.n_nationkey = c.s_nationkey))
      UNION ALL
      SELECT 'nation.n_regionkey->region.r_regionkey',
             (SELECT COUNT(*) FROM nation WHERE n_regionkey IS NOT NULL),
             (SELECT COUNT(*) FROM nation c
              WHERE c.n_regionkey IS NOT NULL AND NOT EXISTS
                (SELECT 1 FROM region p WHERE p.r_regionkey = c.n_regionkey))
    )
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over every FK edge of the star
    schema: child row count + orphan count (child key with no parent)
    per edge — the whole-schema generalization of `j1_missing_partitions`'
    single-edge anti-join, and the first gate a 100 TB ingest should
    run after `dq_constraint_report`'s single-table checks. Each edge
    is resolved by a LEFT join against its (unique-PK) parent, so every
    child table is scanned ONCE for ALL of its edges — lineitem's three
    FK probes ride one scan + one aggregate (the old per-edge anti-join
    + separate child count scanned lineitem six times; guide §1.2:
    don't re-read what one pass can answer). Dimension parents
    (region/nation/customer/supplier/part) broadcast; the
    lineitem->orders edge is the one genuine shuffle and AQE plans it.
    A PK-unique parent makes the left join row-preserving, so
    child_rows = COUNT(fk IS NOT NULL) and orphan_rows = COUNT(fk IS
    NOT NULL AND pk IS NULL) — exactly the old anti-join + count pair.
    NULL FKs are not orphans (SQL FK semantics) — counted in
    child_rows, excluded from orphan_rows."""
    # (child, [(fk, parent, pk, parent_is_broadcast)]) — one entry per
    # child table, covering all of its outgoing FK edges in one scan
    children = [
        (
            "lineitem",
            [
                ("l_orderkey", "orders", "o_orderkey", False),
                ("l_partkey", "part", "p_partkey", True),
                ("l_suppkey", "supplier", "s_suppkey", True),
            ],
        ),
        ("orders", [("o_custkey", "customer", "c_custkey", True)]),
        ("customer", [("c_nationkey", "nation", "n_nationkey", True)]),
        ("supplier", [("s_nationkey", "nation", "n_nationkey", True)]),
        ("nation", [("n_regionkey", "region", "r_regionkey", True)]),
    ]
    out = None
    for child, fk_edges in children:
        j = load_table(spark, sf_dir, child).select(
            *[F.col(fk) for fk, _, _, _ in fk_edges]
        )
        for fk, parent, pk, small in fk_edges:
            # the left join is row-preserving ONLY under a unique parent
            # PK; a duplicate parent key (itself the defect class this
            # family exists to catch) would silently inflate every count
            # for this child. distinct() enforces the invariant — free
            # for the broadcast dimensions, one keys-only aggregate for
            # orders (r12 ADVICE #2).
            p = (
                load_table(spark, sf_dir, parent)
                .select(F.col(pk).alias(f"_pk_{fk}"))
                .distinct()
            )
            if small:
                p = F.broadcast(p)
            j = j.join(p, F.col(fk) == F.col(f"_pk_{fk}"), "left")
        aggs = []
        for fk, parent, pk, _ in fk_edges:
            aggs.append(
                F.count(F.when(F.col(fk).isNotNull(), 1)).alias(f"_cr_{fk}")
            )
            aggs.append(
                F.count(
                    F.when(
                        F.col(fk).isNotNull()
                        & F.col(f"_pk_{fk}").isNull(),
                        1,
                    )
                ).alias(f"_or_{fk}")
            )
        one = j.agg(*aggs)
        # all of this child's edge rows explode out of the ONE 1-row
        # aggregate (per-edge .select()s would re-embed — and re-run —
        # the aggregate subtree once per edge)
        rows = one.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(f"{child}.{fk}->{parent}.{pk}").alias(
                                "fk_edge"
                            ),
                            F.col(f"_cr_{fk}").alias("child_rows"),
                            F.col(f"_or_{fk}").alias("orphan_rows"),
                            (F.col(f"_or_{fk}") == 0).alias("ok"),
                        )
                        for fk, parent, pk, _ in fk_edges
                    ]
                )
            ).alias("e")
        ).select("e.*")
        out = rows if out is None else out.unionByName(rows)
    return out


@query(
    "dq_outlier_iqr",
    """
    WITH q AS (
        SELECT event_type,
               quantile_cont(value, 0.25) AS q1,
               quantile_cont(value, 0.75) AS q3
        FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MAX(q.q1), 4) AS q1, ROUND(MAX(q.q3), 4) AS q3,
           ROUND(MAX(q.q3 - q.q1), 4) AS iqr,
           CAST(SUM(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_outliers,
           CAST(SUM(CASE WHEN e.value > q.q3 + 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_outliers,
           ROUND(SUM(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                           OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
                          THEN 1.0 ELSE 0 END) / COUNT(*), 6) AS outlier_rate
    FROM events e JOIN q ON e.event_type = q.event_type
    WHERE e.value IS NOT NULL
    GROUP BY e.event_type
    """,
)
def dq_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR-fence outlier audit per event type: counts outside
    [Q1 − 1.5·IQR, Q3 + 1.5·IQR] — the distribution-free complement to
    `stat_anomaly_flags`' z-scores (fences don't move when the outliers
    themselves inflate the variance). One exact-percentile aggregate
    per group (|event_type| scalars, broadcast back), then a map-side
    fence test + one hash aggregate — no sort, no window."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    q = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    low = (F.col("value") < F.col("q1") - 1.5 * iqr).cast("int")
    high = (F.col("value") > F.col("q3") + 1.5 * iqr).cast("int")
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("q1"), 4).alias("q1"),
            F.round(F.max("q3"), 4).alias("q3"),
            F.round(F.max(iqr), 4).alias("iqr"),
            F.sum(low).alias("low_outliers"),
            F.sum(high).alias("high_outliers"),
            F.round(
                F.sum(low + high) / F.count(F.lit(1)), 6
            ).alias("outlier_rate"),
        )
    )


@query(
    "dq_candidate_keys",
    """
    SELECT candidate, n_rows, n_distinct,
           ROUND(n_distinct * 1.0 / n_rows, 6) AS uniqueness,
           n_distinct = n_rows AS is_key
    FROM (
      SELECT 'o_orderkey' AS candidate, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
      FROM orders
      UNION ALL
      SELECT 'o_custkey', COUNT(*), COUNT(DISTINCT o_custkey) FROM orders
      UNION ALL
      SELECT 'o_orderstatus', COUNT(*), COUNT(DISTINCT o_orderstatus)
      FROM orders
      UNION ALL
      SELECT 'o_orderdate', COUNT(*), COUNT(DISTINCT o_orderdate) FROM orders
      UNION ALL
      SELECT 'o_custkey+o_orderdate', COUNT(*),
             COUNT(DISTINCT (CAST(o_custkey AS VARCHAR) || '|'
                             || CAST(epoch_us(o_orderdate) AS VARCHAR)))
      FROM orders
    )
    """,
)
def dq_candidate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery profile for `orders`: exact uniqueness
    ratio for each single column plus the (custkey, orderdate) pair —
    the profiling step that picks `record_key` / `precombine` before a
    keyed-table bootstrap (SURVEY §2's upsert path assumes the key IS a
    key; this measures it). One COUNT DISTINCT per candidate (each a
    keyed shuffle, run as independent branches so AQE sizes each
    alone); the composite key is the same '|'-joined canonical string
    on both engines."""
    o = load_table(spark, sf_dir, "orders")
    singles = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"]
    out = None
    for c in singles:
        row = o.agg(
            F.lit(c).alias("candidate"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(F.col(c)).alias("n_distinct"),
        )
        out = row if out is None else out.unionByName(row)
    comp = o.agg(
        F.lit("o_custkey+o_orderdate").alias("candidate"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(
            F.concat_ws(
                "|",
                F.col("o_custkey").cast("string"),
                us("o_orderdate").cast("string"),
            )
        ).alias("n_distinct"),
    )
    out = out.unionByName(comp)
    return out.select(
        "candidate",
        "n_rows",
        "n_distinct",
        F.round(F.col("n_distinct") / F.col("n_rows"), 6).alias("uniqueness"),
        (F.col("n_distinct") == F.col("n_rows")).alias("is_key"),
    )


@query(
    "dq_cross_field_rules",
    """
    SELECT rule, n_checked, CAST(violations AS BIGINT) AS violations,
           ROUND(violations * 1.0 / n_checked, 6) AS violation_rate
    FROM (
      SELECT 'l_shipdate >= o_orderdate' AS rule,
             CAST(COUNT(*) AS BIGINT) AS n_checked,
             CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate
                           THEN 1 ELSE 0 END) AS BIGINT) AS violations
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'discount in [0,1]', COUNT(*),
             SUM(CASE WHEN l_discount < 0 OR l_discount > 1
                      THEN 1 ELSE 0 END)
      FROM lineitem WHERE l_discount IS NOT NULL
      UNION ALL
      SELECT 'quantity positive', COUNT(*),
             SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
      FROM lineitem WHERE l_quantity IS NOT NULL
      UNION ALL
      SELECT 'o_totalprice >= max line net', COUNT(*),
             SUM(CASE WHEN mx > o_totalprice THEN 1 ELSE 0 END)
      FROM (
        SELECT o.o_totalprice,
               MAX(l.l_extendedprice * (1 - l.l_discount)) AS mx
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_totalprice
      )
    )
    """,
)
def dq_cross_field_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-field/cross-table consistency rules — the audit layer
    ABOVE `dq_constraint_report`'s single-column checks: temporal order
    (ship after order), domain bounds, and an order-vs-lines magnitude
    sanity rule. The two join rules share one shuffle each (orderkey
    equijoins, AQE-planned); everything else is map-side. Violation
    ROWS aren't returned (that's `dq_quarantine_rows`' job) — this is
    the rate scorecard a 100 TB ingest gates on."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    r1 = j.agg(
        F.lit("l_shipdate >= o_orderdate").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(
            (F.col("l_shipdate") < F.col("o_orderdate")).cast("int")
        ).alias("violations"),
    )
    r2 = li.filter(F.col("l_discount").isNotNull()).agg(
        F.lit("discount in [0,1]").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast(
                "int"
            )
        ).alias("violations"),
    )
    r3 = li.filter(F.col("l_quantity").isNotNull()).agg(
        F.lit("quantity positive").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        F.sum((F.col("l_quantity") <= 0).cast("int")).alias("violations"),
    )
    per_order = j.groupBy("o_orderkey", "o_totalprice").agg(
        F.max(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("mx")
    )
    r4 = per_order.agg(
        F.lit("o_totalprice >= max line net").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        F.sum((F.col("mx") > F.col("o_totalprice")).cast("int")).alias(
            "violations"
        ),
    )
    out = r1.unionByName(r2).unionByName(r3).unionByName(r4)
    return out.select(
        "rule",
        "n_checked",
        "violations",
        F.round(F.col("violations") / F.col("n_checked"), 6).alias(
            "violation_rate"
        ),
    )


@query(
    "plan_partition_sizing",
    """
    SELECT tbl, n_rows, est_bytes,
           GREATEST(1, CAST(CEIL(est_bytes / 134217728.0) AS BIGINT))
               AS shuffle_partitions,
           GREATEST(1, CAST(CEIL(est_bytes / 1073741824.0) AS BIGINT))
               AS target_files
    FROM (
      SELECT 'lineitem' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) * 120 AS BIGINT) AS est_bytes FROM lineitem
      UNION ALL
      SELECT 'orders', COUNT(*), COUNT(*) * 80 FROM orders
      UNION ALL
      SELECT 'events', COUNT(*), COUNT(*) * 64
                       + CAST(SUM(strlen(COALESCE(props, '')))
                              AS BIGINT)
      FROM events
      UNION ALL
      SELECT 'documents', COUNT(*), COUNT(*) * 48
                          + CAST(SUM(n_chars) AS BIGINT)
      FROM documents
    )
    """,
)
def plan_partition_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-partition / target-file-count planner: per fact table,
    row counts plus an estimated uncompressed byte size (fixed-width
    schema constants + the EXACT variable-width payload sums), sized
    against the 128 MB shuffle-partition and 1 GB file targets — the
    arithmetic behind `spark.sql.shuffle.partitions` and compaction
    file counts that otherwise lives in tribal knowledge. At 100 TB
    this is the query a nightly job runs BEFORE choosing its write
    layout; everything is one map-combinable aggregate per table."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    e = load_table(spark, sf_dir, "events")
    d = load_table(spark, sf_dir, "documents")
    rows = [
        li.agg(
            F.lit("lineitem").alias("tbl"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) * 120).alias("est_bytes"),
        ),
        o.agg(
            F.lit("orders").alias("tbl"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) * 80).alias("est_bytes"),
        ),
        e.agg(
            F.lit("events").alias("tbl"),
            F.count(F.lit(1)).alias("n_rows"),
            (
                F.count(F.lit(1)) * 64
                + F.sum(F.octet_length(F.coalesce(F.col("props"), F.lit(""))))
            ).alias("est_bytes"),
        ),
        d.agg(
            F.lit("documents").alias("tbl"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) * 48 + F.sum("n_chars")).alias("est_bytes"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.select(
        "tbl",
        "n_rows",
        "est_bytes",
        F.greatest(
            F.lit(1),
            F.ceil(F.col("est_bytes") / F.lit(134217728.0)),
        )
        .cast("long")
        .alias("shuffle_partitions"),
        F.greatest(
            F.lit(1),
            F.ceil(F.col("est_bytes") / F.lit(1073741824.0)),
        )
        .cast("long")
        .alias("target_files"),
    )


@query(
    "dq_outlier_mad",
    """
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events WHERE value IS NOT NULL GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.value, m.med,
               abs(e.value - m.med) AS ad
        FROM events e JOIN med m ON e.event_type = m.event_type
        WHERE e.value IS NOT NULL
    ),
    mad AS (
        SELECT event_type, quantile_cont(ad, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MAX(d.med), 4) AS median,
           ROUND(MAX(m.mad), 4) AS mad,
           CAST(SUM(CASE WHEN abs(d.value - d.med)
                              > 3 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS outliers,
           ROUND(SUM(CASE WHEN abs(d.value - d.med)
                               > 3 * 1.4826 * m.mad
                          THEN 1.0 ELSE 0 END) / COUNT(*), 6)
               AS outlier_rate
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type
    """,
)
def dq_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier audit per event type (|x−med|
    > 3·1.4826·MAD, the normal-consistent robust z) — the THIRD fence
    next to `stat_anomaly_flags`' mean/σ and `dq_outlier_iqr`'s
    quartiles: MAD has a 50% breakdown point, so it holds even when
    half the column is corrupt. Two exact-percentile aggregates
    (median, then median of deviations — inherently two passes), each
    |event_type| scalars broadcast back; the fence test is map-side."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("ad"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("ad", F.lit(0.5)).alias("mad")
    )
    out = (F.col("ad") > 3 * 1.4826 * F.col("mad")).cast("int")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("med"), 4).alias("median"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.sum(out).alias("outliers"),
            F.round(F.sum(out) / F.count(F.lit(1)), 6).alias(
                "outlier_rate"
            ),
        )
    )


@query(
    "dq_completeness_trend",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(CASE WHEN o_custkey IS NULL THEN 1.0 ELSE 0 END)
                 / COUNT(*), 6) AS null_custkey_rate,
           ROUND(SUM(CASE WHEN o_totalprice IS NULL THEN 1.0 ELSE 0 END)
                 / COUNT(*), 6) AS null_price_rate,
           ROUND(SUM(CASE WHEN o_orderpriority IS NULL
                           OR o_orderpriority = '' THEN 1.0 ELSE 0 END)
                 / COUNT(*), 6) AS missing_priority_rate
    FROM orders
    GROUP BY 1
    """,
)
def dq_completeness_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-completeness TREND: null/missing rates per ingest month —
    the time dimension `dq_column_profile`'s global rates hide (a
    schema regression shows up as one bad month, invisible in the
    all-time average). One month-keyed map-side aggregate; at 100 TB
    this runs per-partition on write and appends to a metrics table."""
    o = load_table(spark, sf_dir, "orders")
    null_rate = lambda c: F.round(
        F.sum(F.when(c, 1.0).otherwise(0.0)) / F.count(F.lit(1)), 6
    )
    return o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        null_rate(F.col("o_custkey").isNull()).alias("null_custkey_rate"),
        null_rate(F.col("o_totalprice").isNull()).alias("null_price_rate"),
        null_rate(
            F.col("o_orderpriority").isNull()
            | (F.col("o_orderpriority") == "")
        ).alias("missing_priority_rate"),
    )


_BENFORD_P = {
    1: 0.3010299956639812, 2: 0.17609125905568124, 3: 0.12493873660829992,
    4: 0.09691001300805642, 5: 0.07918124604762482, 6: 0.06694678963061322,
    7: 0.05799194697768673, 8: 0.05115252244738129, 9: 0.04575749056067514,
}


def _benford_oracle() -> str:
    probs = ", ".join(
        f"({d}, {p!r})" for d, p in _BENFORD_P.items()
    )
    return f"""
    WITH bp(digit, p) AS (VALUES {probs}),
    firstd AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM orders WHERE o_totalprice > 0
    ),
    obs AS (
        SELECT digit, CAST(COUNT(*) AS DOUBLE) AS n_obs
        FROM firstd GROUP BY digit
    ),
    tot AS (SELECT SUM(n_obs) AS n FROM obs),
    per AS (
        SELECT bp.digit,
               COALESCE(o.n_obs, 0.0) AS n_obs,
               bp.p * t.n AS expected
        FROM bp LEFT JOIN obs o ON bp.digit = o.digit, tot t
    ),
    chi AS (
        SELECT SUM((n_obs - expected) * (n_obs - expected) / expected) AS c
        FROM per
    )
    SELECT per.digit,
           CAST(per.n_obs AS BIGINT) AS n_obs,
           ROUND(per.expected, 4) AS expected,
           ROUND((per.n_obs - per.expected) * (per.n_obs - per.expected)
                 / per.expected, 4) AS contribution,
           ROUND(chi.c, 4) AS chi2_stat
    FROM per, chi
    """


@query("dq_benford_law", _benford_oracle())
def dq_benford_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-data screen (organic multiplicative quantities follow
    P(d) = log10(1+1/d); synthetic or truncated generators don't, which
    is itself a readable property of the corpus). First digit is
    extracted through exact integer-cents STRING math — never
    floor(log10(x)), whose last-ulp libm differences at exact powers of
    ten would flip a digit between engines — and the nine Benford
    probabilities are shared 17-significant-digit literals on both
    sides, so expected counts and the chi² statistic are bit-aligned.
    One map-only projection + a 9-row aggregate; the chi²(8) statistic
    rides every row.

    100 TB posture: map-side-combinable count by nine keys — the
    cheapest whole-table integrity screen there is."""
    ev = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    firstd = ev.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    obs = firstd.groupBy("digit").agg(
        F.count(F.lit(1)).cast("double").alias("n_obs")
    )
    bp = spark.createDataFrame(
        [(d, p) for d, p in _BENFORD_P.items()], "digit int, p double"
    )
    tot = obs.agg(F.sum("n_obs").alias("n"))
    per = (
        bp.join(obs, "digit", "left")
        .na.fill({"n_obs": 0.0})
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            (F.col("p") * F.col("n")).alias("expected"),
        )
    )
    chi = per.agg(
        F.sum(
            (F.col("n_obs") - F.col("expected"))
            * (F.col("n_obs") - F.col("expected"))
            / F.col("expected")
        ).alias("c")
    )
    return per.crossJoin(F.broadcast(chi)).select(
        "digit",
        F.col("n_obs").cast("long").alias("n_obs"),
        F.round("expected", 4).alias("expected"),
        F.round(
            (F.col("n_obs") - F.col("expected"))
            * (F.col("n_obs") - F.col("expected"))
            / F.col("expected"),
            4,
        ).alias("contribution"),
        F.round("c", 4).alias("chi2_stat"),
    )
