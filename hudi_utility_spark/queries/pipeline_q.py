"""Oracle-checked queries for the composed corpus-cleaning pipeline
(`ops.pipeline`): the end-to-end training-data flow — exact dedup →
quality gate → language ID — as one plan, plus its stage funnel.

The oracles replicate every stage in DuckDB SQL (fingerprint window,
quality formula, language argmax with the array_max struct tiebreak),
so the whole composition is value-hash checked, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.ops import pipeline as P
from hudi_utility_spark.queries.dedup import (
    _COMPONENTS_09,
    _PAIRS_09_SQL,
    _UNIGRAM_OVERLAP,
)
from hudi_utility_spark.queries import query
from hudi_utility_spark.queries.text import (
    _LANG_CASE,
    _LANG_SCORES,
    _QUALITY,
    _QUALITY_STATS_COLS,
)
from hudi_utility_spark.tables import load_table

# Shared oracle CTE chain: documents → dedup → quality-gated survivors.
_FUNNEL_CTES = r"""
    WITH fp AS (
      SELECT doc_id, text,
             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                                     '\s+', ' ', 'g'))) AS fingerprint
      FROM documents
    ), dedup AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
        FROM fp
      ) WHERE rn = 1
    ), stats AS (
      SELECT doc_id, text,
             """ + _QUALITY_STATS_COLS + r"""
      FROM dedup
    ), scored AS (
      SELECT doc_id, text,
             """ + _QUALITY + r"""
      FROM stats
    ), gated AS (
      SELECT doc_id, text, quality FROM scored WHERE quality >= 0.5
    )
"""


@query(
    "pipeline_corpus_funnel",
    _FUNNEL_CTES
    + """
    SELECT '00_raw' AS stage, COUNT(*) AS n_docs FROM documents
    UNION ALL SELECT '10_dedup', COUNT(*) FROM dedup
    UNION ALL SELECT '20_quality', COUNT(*) FROM gated
    """,
)
def pipeline_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage survivor counts of the cleaning funnel — the
    record-count observability the reference log-scrapes (app.py:320-321)
    as a first-class query."""
    return P.corpus_funnel(load_table(spark, sf_dir, "documents"))


@query(
    "pipeline_corpus_clean",
    _FUNNEL_CTES
    + r"""
    , langed AS (
      SELECT quality,
             """ + _LANG_SCORES + r"""
      FROM (SELECT quality,
                   list_transform(string_split_regex(trim(text), '\s+'),
                                  x -> lower(x)) AS words
            FROM gated)
    )
    SELECT """ + _LANG_CASE + r""" AS lang_pred,
           COUNT(*) AS n_docs,
           ROUND(AVG(quality), 4) AS avg_quality
    FROM langed GROUP BY lang_pred
    """,
)
def pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final cleaned-corpus profile: per predicted language, how many
    documents survived and their mean quality."""
    cleaned = P.clean_corpus(load_table(spark, sf_dir, "documents"))
    return cleaned.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )


@query(
    "pipeline_hash_split",
    """
    SELECT lang, split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT lang, n_chars,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2' THEN 'val'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4' THEN 'test'
                  ELSE 'train' END AS split
      FROM documents
    ) GROUP BY lang, split
    """,
)
def pipeline_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-stable hash
    (md5 of the document id): the standard leakage-safe split for
    training corpora — membership is a pure function of the id, so
    re-runs, backfills, and incremental arrivals land in the same split
    without any stored assignment table. Map-only until the per
    (lang, split) aggregate; at 100 TB the hash costs one codegen'd
    expression per row and the shuffle is O(groups)."""
    docs = load_table(spark, sf_dir, "documents")
    digit = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
    split = (
        F.when(digit < "2", F.lit("val"))
        .when(digit < "4", F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return (
        docs.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "pipeline_uniform_sample",
    """
    SELECT doc_id, lang
    FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 100
    """,
)
def pipeline_uniform_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size deterministic uniform sample: order by a content-
    stable hash of the id and take the first N — reproducible across
    runs and engines (md5 hex compares identically everywhere), unlike
    `df.sample` whose membership depends on partitioning. Plans as
    TakeOrderedAndProject: each task keeps its local top-N, the driver
    merges — no global sort, no full shuffle, which is what makes
    "give me exactly 10k eval docs from 100 TB" a cheap operation."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    return docs.orderBy(h).limit(100).select("doc_id", "lang")


@query(
    "pipeline_group_safe_split",
    # reuse the Jaccard>=0.9 component closure from the dedup oracles
    _PAIRS_09_SQL
    + """
    , comp AS (SELECT id, MIN(lbl) AS group_id FROM reach GROUP BY id)
    SELECT d.doc_id,
           COALESCE(c.group_id, d.doc_id) AS group_id,
           CASE WHEN substr(md5(CAST(COALESCE(c.group_id, d.doc_id) AS VARCHAR)), 1, 1) < '2'
                THEN 'val'
                WHEN substr(md5(CAST(COALESCE(c.group_id, d.doc_id) AS VARCHAR)), 1, 1) < '4'
                THEN 'test'
                ELSE 'train' END AS split
    FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    """,
)
def pipeline_group_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split: the id-hash split is applied
    to the near-dup COMPONENT id, not the document id, so a whole
    cluster of near-duplicates lands in one split atomically — the
    standard fix for eval contamination through paraphrased/templated
    copies that a plain per-doc hash split cannot prevent (a doc and
    its near-copy would hash apart, leaking train text into test).
    Components come from the Jaccard≥0.9 pair graph (`near_dup_groups`
    label propagation); unpaired docs are their own component, so for
    them this degrades to exactly `pipeline_hash_split` semantics.
    Split membership stays a pure function of content: re-runs and
    incremental arrivals that join an existing cluster inherit its
    split."""
    from hudi_utility_spark.ops import dedup as D

    d = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(d, n=1, threshold=0.9)
    groups = D.near_dup_groups(pairs)
    gid = F.coalesce(F.col("group_id"), F.col("doc_id"))
    digit = F.substring(F.md5(gid.cast("string").cast("binary")), 1, 1)
    split = (
        F.when(digit < "2", F.lit("val"))
        .when(digit < "4", F.lit("test"))
        .otherwise(F.lit("train"))
    )
    g = groups.withColumnRenamed("id", "doc_id")
    # the label relation is bounded by the paired docs and
    # checkpoint-backed (count = cache scan); measured broadcast keeps
    # the corpus side un-exchanged (unknown checkpoint stats otherwise
    # force a sort-merge left join)
    if groups.count() <= 20_000_000:
        g = F.broadcast(g)
    return (
        d.join(g, "doc_id", "left")
        .select(
            "doc_id",
            gid.alias("group_id"),
            split.alias("split"),
        )
    )


_ABL_FILTERS = [
    ("short", "n_chars < 300"),
    ("nonen", "lang <> 'en'"),
    (
        "digity",
        "length(regexp_replace(text, '[^0-9]', {g})) > 0.05 * length(text)",
    ),
    (
        "uppery",
        "length(regexp_replace(text, '[^A-Z]', {g})) > 0.10 * length(text)",
    ),
]


def _abl_pairs() -> list[tuple[str, str]]:
    names = [n for n, _ in _ABL_FILTERS]
    return [(a, b) for i, a in enumerate(names) for b in names[i:]]


def _abl_oracle() -> str:
    duck_g = "'', 'g'"
    flags = ", ".join(
        f"({expr.format(g=duck_g)})::INT AS {name}"
        for name, expr in _ABL_FILTERS
    )
    aggs = ", ".join(
        f"SUM({a} * {b}) AS n_{a}_{b}" for a, b in _abl_pairs()
    )
    sels = "\n    UNION ALL ".join(
        f"SELECT '{a}' AS filter_a, '{b}' AS filter_b, "
        f"n_{a}_{b}::BIGINT AS failed_both FROM agg"
        for a, b in _abl_pairs()
    )
    return f"""
    WITH f AS (SELECT {flags} FROM documents),
    agg AS (SELECT {aggs} FROM f)
    {sels}
    """


@query("pipeline_filter_ablation", _abl_oracle())
def pipeline_filter_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-overlap ablation matrix: for every pair of quality
    filters, how many documents fail BOTH — the diagnostic that tells
    a curation pipeline which filters are redundant (high overlap) and
    which carry unique signal (diagonal >> off-diagonal). All 10
    pairwise sums come from ONE single-pass aggregate over row-local
    boolean flags (pure codegen, no join, no second scan), unpivoted
    with stack() into long form."""
    docs = load_table(spark, sf_dir, "documents")
    flagged = docs.select(
        *[
            F.when(F.expr(expr.format(g="''")), 1).otherwise(0).alias(name)
            for name, expr in _ABL_FILTERS
        ]
    )
    agg = flagged.agg(
        *[
            F.sum(F.col(a) * F.col(b)).alias(f"n_{a}_{b}")
            for a, b in _abl_pairs()
        ]
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', n_{a}_{b}" for a, b in _abl_pairs()
    )
    return agg.selectExpr(
        f"stack({len(_abl_pairs())}, {stack_args}) "
        "as (filter_a, filter_b, failed_both)"
    )


@query(
    "pipeline_walkforward_folds",
    """
    WITH b AS (
        SELECT epoch_us(MIN(ts)) AS t0, epoch_us(MAX(ts)) AS t1
        FROM events
    ),
    spans AS (
        SELECT t0, (t1 - t0 + 1) // 4 + 1 AS span FROM b
    ),
    assigned AS (
        SELECT f.fold,
               CASE
                 WHEN epoch_us(e.ts) >= s.t0 + f.fold * s.span
                  AND epoch_us(e.ts) < s.t0 + (f.fold + 1) * s.span
                   THEN 'test'
                 WHEN epoch_us(e.ts) < s.t0 + f.fold * s.span - 600000000
                   THEN 'train'
                 WHEN epoch_us(e.ts) >= s.t0 + f.fold * s.span - 600000000
                  AND epoch_us(e.ts) < s.t0 + f.fold * s.span
                   THEN 'purged'
                 ELSE 'future'
               END AS role
        FROM events e, spans s,
             LATERAL (SELECT unnest(range(0, 4)) AS fold) f
    )
    SELECT fold, role, CAST(COUNT(*) AS BIGINT) AS n
    FROM assigned GROUP BY fold, role
    """,
)
def pipeline_walkforward_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged walk-forward CV split audit: 4 chronological folds over
    the event stream with a 10-minute embargo buffer purged before each
    test span — the only non-leaking split for serially-correlated
    training data (group_safe_split handles entity leakage; this
    handles TIME leakage). Fold spine is a bounded explode of 4
    literals; assignment is map-only (ops/pipeline.py
    walkforward_folds)."""
    from hudi_utility_spark.ops.pipeline import walkforward_folds
    from hudi_utility_spark.tsutil import us

    ev = load_table(spark, sf_dir, "events")
    t0, t1 = ev.agg(
        F.min(us(F.col("ts"))), F.max(us(F.col("ts")))
    ).collect()[0]
    out = walkforward_folds(
        ev, "ts", n_folds=4, embargo_seconds=600, t_min_us=t0, t_max_us=t1
    )
    return out.groupBy("fold", "role").agg(F.count(F.lit(1)).alias("n"))


@query(
    "pipeline_dedup_ablation",
    """
    WITH RECURSIVE words AS (
        SELECT doc_id,
               unnest(list_distinct(string_split(
                   trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')),
                   ' '))) AS w
        FROM documents
    ),
    """ + _UNIGRAM_OVERLAP + """,
    """ + _COMPONENTS_09 + """,
    survivors AS (
        SELECT d.doc_id FROM documents d
        LEFT JOIN (SELECT id, MIN(lbl) AS group_id FROM reach GROUP BY id) g
          ON g.id = d.doc_id
        WHERE g.id IS NULL OR g.group_id = d.doc_id
    ),
    stats AS (
        SELECT 'before' AS corpus,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
                    AS BIGINT) AS n_tokens,
               (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) FROM words)
                   AS vocab,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        FROM documents
        UNION ALL
        SELECT 'after',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(len(regexp_split_to_array(trim(d.text), '\\s+')))
                    AS BIGINT),
               (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) FROM words
                WHERE doc_id IN (SELECT doc_id FROM survivors)),
               CAST(COUNT(DISTINCT d.lang) AS BIGINT)
        FROM documents d JOIN survivors s ON s.doc_id = d.doc_id
    )
    SELECT corpus, n_docs, n_tokens, vocab, n_langs,
           ROUND(CAST(vocab AS DOUBLE) / n_tokens, 6) AS type_token_ratio
    FROM stats
    """,
)
def pipeline_dedup_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ablation readout: corpus statistics (docs, tokens,
    vocabulary, languages, type-token ratio) BEFORE and AFTER Jaccard
    ≥0.9 near-dedup — the measurement every curation decision should
    ship with (dedup that barely moves tokens but lifts TTR removed
    boilerplate; dedup that craters a language's share removed a
    community). The after-side reuses the same survivor machinery as
    `dedup_near_survivors`; both sides are plain aggregates over the
    (docs, word) relations — nothing new shuffles."""
    from hudi_utility_spark.ops import dedup as D
    from hudi_utility_spark.ops.text import normalized

    d = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(d, n=1, threshold=0.9)
    survivors = D.dedup_survivors(d, pairs).select("doc_id")
    words = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(normalized(F.col("text")), " "))
        ).alias("w"),
    ).filter(F.col("w") != "")

    def stats(docs, wrds, tag):
        base = docs.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+"))).alias(
                "n_tokens"
            ),
            F.count_distinct("lang").alias("n_langs"),
        )
        voc = wrds.agg(F.count_distinct("w").alias("vocab"))
        return base.crossJoin(F.broadcast(voc)).select(
            F.lit(tag).alias("corpus"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("vocab").cast("long").alias("vocab"),
            F.col("n_langs").cast("long").alias("n_langs"),
            F.round(
                F.col("vocab").cast("double") / F.col("n_tokens"), 6
            ).alias("type_token_ratio"),
        )

    after_docs = d.join(survivors, "doc_id", "left_semi")
    after_words = words.join(survivors, "doc_id", "left_semi")
    return stats(d, words, "before").unionByName(
        stats(after_docs, after_words, "after")
    )


@query(
    "pipeline_kfold_balance",
    """
    WITH folds AS (
        SELECT CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                             1, 8)) AS BIGINT) % 5
                    AS INTEGER) AS fold,
               lang
        FROM documents
    ),
    per AS (
        SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM folds GROUP BY fold, lang
    ),
    tot AS (
        SELECT lang, CAST(SUM(n) AS DOUBLE) AS lang_total FROM per
        GROUP BY lang
    )
    SELECT p.fold, p.lang, p.n,
           ROUND(p.n / t.lang_total, 6) AS lang_share,
           ROUND(abs(p.n / t.lang_total - 0.2), 6) AS imbalance
    FROM per p JOIN tot t ON p.lang = t.lang
    """,
)
def pipeline_kfold_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold assignment by portable content hash (md5 of doc_id — the
    same deterministic-split discipline as `pipeline_hash_split`) plus
    the per-fold CLASS-BALANCE audit: each language's share per fold
    and its deviation from the ideal 1/k — the check that catches a
    skewed fold before it silently biases cross-validation. One hash
    aggregate to the (fold, lang) matrix (k·|langs| rows); totals ride
    a broadcast join."""
    from hudi_utility_spark.ops import phash

    d = load_table(spark, sf_dir, "documents")
    hi, _ = phash.parts(F.col("doc_id").cast("string"))
    per = (
        d.select((hi % 5).cast("int").alias("fold"), "lang")
        .groupBy("fold", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = per.groupBy("lang").agg(
        F.sum("n").cast("double").alias("lang_total")
    )
    return per.join(F.broadcast(tot), "lang").select(
        "fold",
        "lang",
        "n",
        F.round(F.col("n") / F.col("lang_total"), 6).alias("lang_share"),
        F.round(
            F.abs(F.col("n") / F.col("lang_total") - 0.2), 6
        ).alias("imbalance"),
    )
