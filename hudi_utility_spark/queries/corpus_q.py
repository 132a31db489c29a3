"""Corpus-assembly and retrieval queries: sequence packing, stratified
sampling, BM25 ranking, TF-IDF keywords — all deterministic, all
hash-checked against DuckDB oracles.

The oracles reproduce the engine-portable primitives exactly: md5 hex
prefixes for sharding/sampling, `ops.text.normalized` tokenization via
regexp_replace(+'g')/string_split, natural log for idf, round(6) floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.ops import pack as PK
from hudi_utility_spark.ops import retrieval as R
from hudi_utility_spark.queries import query
from hudi_utility_spark.tables import load_table

# DuckDB rendition of ops.text.normalized + whitespace split, shared by
# the retrieval oracles below.
_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)
_TOKS = f"list_filter(string_split({_NORM}, ' '), x -> x != '')"


@query(
    "pack_token_sequences",
    """
    WITH sharded AS (
        SELECT doc_id,
               CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 8 AS INTEGER) AS shard,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
        FROM documents
    ),
    placed AS (
        SELECT shard,
               SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens
                   AS start_offset,
               n_tokens
        FROM sharded
    )
    SELECT shard,
           CAST(FLOOR(start_offset / 256) AS INTEGER) AS seq_idx,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           ROUND(CAST(SUM(n_tokens) AS DOUBLE) / 256.0, 6) AS fill_ratio
    FROM placed GROUP BY shard, CAST(FLOOR(start_offset / 256) AS INTEGER)
    """,
)
def pack_token_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing readout: documents greedily laid out into
    256-token training sequences within 8 content-stable hash shards
    (ops/pack.py — one shard shuffle + per-shard ordered window, never a
    global window). Per sequence: member docs, token total, fill ratio."""
    docs = load_table(spark, sf_dir, "documents")
    return PK.pack_profile(docs, budget=256, n_shards=8)


@query(
    "pack_stratified_sample",
    """
    SELECT doc_id, lang FROM documents
    WHERE (lang = 'en')
       OR (lang = 'de' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) < '800000')
       OR (lang = 'fr' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) < '400000')
    """,
)
def pack_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling for a training mix: keep
    all English, half the German, a quarter of the French, none of the
    rest — membership is a pure function of doc_id (md5-uniform vs hex
    threshold), so backfills and re-runs sample identically. Map-only."""
    docs = load_table(spark, sf_dir, "documents")
    return PK.stratified_sample(
        docs, {"en": 1.0, "de": 0.5, "fr": 0.25}, strata_col="lang"
    ).select("doc_id", "lang")


@query(
    "pack_temperature_sample",
    """
    WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    tot AS (SELECT SUM(n) AS total FROM counts),
    pa AS (
        SELECT lang, n,
               SQRT(CAST(n AS DOUBLE) / (SELECT total FROM tot)) AS pa
        FROM counts
    ),
    s AS (SELECT CAST(SUM(CAST(pa AS DECIMAL(38,20))) AS DOUBLE) AS s FROM pa),
    thr AS (
        SELECT lang,
               CAST(FLOOR(
                   CAST(FLOOR(CAST((SELECT total FROM tot) AS DOUBLE) * 0.5)
                        AS DOUBLE)
                   * pa / (SELECT s FROM s) / CAST(n AS DOUBLE) * 16777216.0
               ) AS BIGINT) AS t
        FROM pa
    )
    SELECT d.doc_id, d.lang FROM documents d
    JOIN thr ON d.lang = thr.lang
    WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6))
               AS BIGINT) < thr.t
    """,
)
def pack_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (ops/pack.py
    `temperature_sample`, the multilingual-pretraining p^alpha recipe):
    sample half the corpus with per-language rates flattened at
    alpha=0.5, so low-resource languages keep a larger share than their
    natural frequency. Every float step is IEEE-reproducible (sqrt, a
    DECIMAL-summed normalizer, one fixed operation order), so the
    oracle re-derives the data-dependent thresholds and membership
    matches document-for-document. Plan: tiny count aggregate +
    broadcast thresholds + map-only md5 filter — no corpus shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return PK.temperature_sample(
        docs, alpha=0.5, budget_fraction=0.5, group_col="lang"
    ).select("doc_id", "lang")


@query(
    "pack_training_mix",
    """
    WITH avail AS (
        SELECT lang, COUNT(*) AS n,
               CASE lang WHEN 'en' THEN CAST(0.5 AS DOUBLE)
                         WHEN 'de' THEN CAST(0.3 AS DOUBLE)
                         ELSE CAST(0.2 AS DOUBLE) END AS w
        FROM documents WHERE lang IN ('en', 'de', 'fr') GROUP BY lang
    ),
    scale AS (SELECT MIN(n / w) AS s FROM avail),
    thr AS (
        SELECT lang,
               CAST(FLOOR((SELECT s FROM scale) * w / n * 16777216) AS BIGINT) AS t
        FROM avail
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN thr ON d.lang = thr.lang
    WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
          < thr.t
    """,
)
def pack_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix assembly: down-sample {en, de, fr} toward a
    50/30/20 mix at maximum volume — the binding stratum survives whole,
    the rest are deterministically hash-sampled down (ops/pack.py
    `mix_corpus`). The per-stratum thresholds are data-dependent, so the
    oracle re-derives them with the identical double-precision operation
    order; membership then matches document-for-document."""
    docs = load_table(spark, sf_dir, "documents")
    return PK.mix_corpus(docs, {"en": 0.5, "de": 0.3, "fr": 0.2}).select(
        "doc_id", "lang"
    )


@query(
    "pack_budget_selection",
    """
    WITH t AS (
        SELECT doc_id, n_chars AS score,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, score, n_tokens,
               SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens
                   AS start_offset
        FROM t
    )
    SELECT doc_id, CAST(score AS BIGINT) AS score, n_tokens,
           CAST(start_offset AS BIGINT) AS start_offset
    FROM c WHERE start_offset < 20000
    """,
)
def pack_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token-budget cut: keep the highest-scoring documents (score
    = n_chars here; any quality column drops in) until 20k cumulative
    tokens. The oracle is the textbook global-window cumsum; the engine
    plan is the distributed prefix sum in ops/pack.py
    `select_until_budget` — range repartition + per-partition local
    cumsums + driver-side offset ladder (n_ranges scalars) — with no
    single-partition stage anywhere. Membership is provably
    partition-invariant, so both formulations select the identical set."""
    docs = load_table(spark, sf_dir, "documents")
    out = PK.select_until_budget(
        docs, token_budget=20_000, score_col="n_chars", n_ranges=8
    )
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("score"),
        "n_tokens",
        F.col("start_offset").cast("long").alias("start_offset"),
    )


# the retrieval family's per-document term frequencies for the fixed
# 3-term query {hash, vector, spark}, which every ranker scores from
_RANK_BASE = f"""base AS (
        SELECT doc_id,
               len({_TOKS}) AS dl,
               len(list_filter({_TOKS}, x -> x = 'hash')) AS tf_0,
               len(list_filter({_TOKS}, x -> x = 'vector')) AS tf_1,
               len(list_filter({_TOKS}, x -> x = 'spark')) AS tf_2
        FROM documents
    )"""


@query(
    "rtr_bm25_topk",
    f"""
    WITH {_RANK_BASE},
    stats AS (
        SELECT COUNT(*) AS n, AVG(dl) AS avgdl,
               SUM(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS df_0,
               SUM(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS df_1,
               SUM(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS df_2
        FROM base
    )
    SELECT doc_id,
           ROUND(
             ln(1 + (n - df_0 + 0.5) / (df_0 + 0.5)) * tf_0 * 2.2
               / (tf_0 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
           + ln(1 + (n - df_1 + 0.5) / (df_1 + 0.5)) * tf_1 * 2.2
               / (tf_1 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
           + ln(1 + (n - df_2 + 0.5) / (df_2 + 0.5)) * tf_2 * 2.2
               / (tf_2 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6) AS score
    FROM base, stats
    WHERE tf_0 + tf_1 + tf_2 > 0
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
)
def rtr_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the query {hash, vector, spark} (k1=1.2, b=0.75,
    Lucene-style smooth idf). Map-side tf expressions + one O(terms)
    stats aggregate broadcast back — no corpus shuffle (ops/retrieval.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return R.bm25_topk(docs, ["hash", "vector", "spark"], k=10)


@query(
    "rtr_tfidf_keywords",
    f"""
    WITH pairs AS (
        SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM pairs GROUP BY doc_id, term
    ),
    dfreq AS (
        SELECT term, COUNT(*) AS term_df FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs_total FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ROUND(tf.tf * ln(CAST(n.n_docs_total AS DOUBLE) / dfreq.term_df), 6)
                   AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tfidf FROM (
        SELECT doc_id, term, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rank
        FROM scored
    ) WHERE rank <= 3
    """,
)
def rtr_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 tf-idf keywords (ties → lexicographically
    first). Two high-cardinality-keyed aggregates plus a per-doc ranking
    window — no global window, no hot keys (ops/retrieval.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return R.tfidf_top_terms(docs, top_n=3)


@query(
    "corpus_health_report",
    r"""
    WITH base AS (
        SELECT doc_id, lang,
               length(text) AS n_chars_c,
               len(string_split_regex(trim(text), '\s+')) AS n_words,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
           ROUND(1.0 - COUNT(DISTINCT fp) / COUNT(*), 6) AS dup_rate,
           CAST(SUM(n_chars_c) AS BIGINT) AS total_chars,
           ROUND(AVG(n_words), 4) AS avg_words
    FROM base GROUP BY lang
    """,
)
def corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass corpus health readout per language: volume, exact-dup
    rate (distinct content fingerprints vs docs), size and length
    profile — the dashboard numbers a training-data pipeline watches per
    ingest batch. Single scan, one aggregate (distinct-count planned via
    Expand), no joins."""
    from hudi_utility_spark.ops.text import fingerprint

    d = fingerprint(load_table(spark, sf_dir, "documents"))
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fingerprint").alias("n_unique"),
            F.round(
                F.lit(1.0) - F.countDistinct("fingerprint") / F.count(F.lit(1)), 6
            ).alias("dup_rate"),
            F.sum(F.length("text")).alias("total_chars"),
            F.round(F.avg(F.size(F.split(F.trim(F.col("text")), r"\s+"))), 4).alias(
                "avg_words"
            ),
        )
    )


@query(
    "pack_eval_holdout",
    """
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    ) WHERE rk <= 20
    """,
)
def pack_eval_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen eval carve-out: exactly 20 documents per language, chosen
    by a content-stable md5 order (ops/pack.py `sample_n_per_group`) —
    one group-keyed shuffle + per-group ranking window, reproducible in
    any md5-bearing engine."""
    docs = load_table(spark, sf_dir, "documents")
    return PK.sample_n_per_group(docs, 20, "lang").select("doc_id", "lang")


@query(
    "pack_weighted_sample",
    """
    SELECT doc_id, lang, n_chars FROM (
        SELECT doc_id, lang, n_chars,
               -ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                             1, 12)) AS BIGINT) + 0.5)
                   / 281474976710656.0) / CAST(n_chars AS DOUBLE) AS race_key
        FROM documents
        WHERE n_chars IS NOT NULL AND n_chars > 0
    ) ORDER BY race_key, doc_id LIMIT 100
    """,
)
def pack_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement (ops/pack.py
    `weighted_sample`, Efraimidis–Spirakis): 100 documents with
    inclusion probability ∝ length. Deterministic md5 uniforms make the
    exponential race replayable in DuckDB; the Spark plan is map-only +
    TakeOrderedAndProject (local top-k per task, no global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    return PK.weighted_sample(docs, 100, "n_chars").select(
        "doc_id", "lang", "n_chars"
    )


@query(
    "rtr_inverted_index",
    r"""
    WITH pairs AS (
        SELECT DISTINCT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents
    )
    SELECT tok, COUNT(*) AS df,
           array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
    FROM pairs GROUP BY tok
    """,
)
def rtr_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized inverted index: term → document frequency + sorted
    postings list — the precomputed form of what `rtr_bm25_topk`
    derives per query. One (doc, term) distinct + one term-keyed
    aggregate; postings arrays are per-term state (the classic IR
    shard unit — at 100 TB, partition the index BY TERM so each
    posting list lives in one task, and cap/segment pathological
    stop-word terms the same way Lucene does). Postings are emitted
    as a comma-joined string (scalar-typed output so the row is
    canonicalizable/hashable by generic result comparators)."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("tok"),
    ).distinct()
    return pairs.groupBy("tok").agg(
        F.count("*").alias("df"),
        F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias(
            "postings"
        ),
    )


@query(
    "pack_source_cap",
    """
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    ) WHERE rk <= 15
    """,
)
def pack_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source frequency capping — the Common-Crawl domain-cap
    recipe (no single domain/source may dominate the mix): keep at most
    15 docs per source, chosen by the content-stable md5 order
    (ops/pack.py `sample_n_per_group` — the same frozen-carve operator
    as the eval holdout, applied to over-represented-source control).
    One source-keyed shuffle; per-group window state O(group size)."""
    docs = load_table(spark, sf_dir, "documents")
    return PK.sample_n_per_group(docs, 15, "source").select("doc_id", "source")


@query(
    "rtr_phrase_search",
    f"""
    WITH toks AS (
        SELECT doc_id,
               unnest({_TOKS}) AS token,
               generate_subscripts({_TOKS}, 1) AS pos
        FROM documents
    )
    SELECT a.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(a.pos) AS BIGINT) AS first_pos
    FROM toks a JOIN toks b
      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 AND b.token = 'value'
    WHERE a.token = 'table'
    GROUP BY a.doc_id
    """,
)
def rtr_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase query ("table value") over the positions-bearing
    inverted index: per-term posting rows are probed by literal term
    (pushable filter — at scale only those terms' index rows are
    read), then position arrays intersect after per-term offset shift.
    Overlapping matches count; the oracle replays the same semantics
    with positional self-joins over exploded tokens."""
    docs = load_table(spark, sf_dir, "documents")
    postings = R.positional_postings(docs)
    return R.phrase_match(postings, "table value")


@query(
    "rtr_pmi_expansion",
    f"""
    WITH toks AS (
        SELECT doc_id,
               unnest({_TOKS}) AS token,
               generate_subscripts({_TOKS}, 1) AS pos
        FROM documents
    ),
    n_tok AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks),
    uni AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
    co AS (
        SELECT b.token AS other, COUNT(*) AS cc
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id
         AND b.pos BETWEEN a.pos - 3 AND a.pos + 3
         AND b.pos <> a.pos
        WHERE a.token = 'table'
        GROUP BY b.token
    )
    SELECT co.other AS term,
           CAST(co.cc AS BIGINT) AS cooc,
           ROUND(ln((co.cc * n.n) / (u1.c * CAST(u2.c AS DOUBLE) * 6.0)), 6)
               AS pmi
    FROM co
    JOIN uni u1 ON u1.token = 'table'
    JOIN uni u2 ON u2.token = co.other, n_tok n
    WHERE co.cc >= 5
    ORDER BY pmi DESC, term LIMIT 15
    """,
)
def rtr_pmi_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query expansion by pointwise mutual information: terms
    co-occurring with the seed ('table') inside a +-3 token window,
    scored ln(P(co) / (P(a)P(b)·window)) — the classic thesaurus-free
    expansion signal. The co-occurrence join is position-banded per
    document (fan-out bounded by the window width, never doc-length
    squared); counts aggregate before any scoring."""
    from hudi_utility_spark.ops.text import normalized

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(normalized(F.col("text")), " "), lambda t: t != "")
        ).alias("pos0", "token"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    n_tok = toks.agg(F.count(F.lit(1)).cast("double").alias("n"))
    uni = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    a = toks.filter(F.col("token") == "table").alias("a")
    b = toks.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & F.col("b.pos").between(F.col("a.pos") - 3, F.col("a.pos") + 3)
            & (F.col("b.pos") != F.col("a.pos")),
        )
        .groupBy(F.col("b.token").alias("term"))
        .agg(F.count(F.lit(1)).alias("cooc"))
        .filter(F.col("cooc") >= 5)
    )
    u1 = uni.filter(F.col("token") == "table").select(
        F.col("c").alias("c_seed")
    )
    u2 = uni.select(F.col("token").alias("term"), F.col("c").alias("c_term"))
    return (
        co.join(F.broadcast(u2), "term")
        .crossJoin(F.broadcast(u1))
        .crossJoin(F.broadcast(n_tok))
        .select(
            "term",
            "cooc",
            F.round(
                F.log(
                    (F.col("cooc") * F.col("n"))
                    / (F.col("c_seed") * F.col("c_term").cast("double") * 6.0)
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("term"))
        .limit(15)
    )


def _hedge_oracle(rounds: int = 3, eta: float = 0.5, base_rate: float = 0.5) -> str:
    """Unrolled Hedge rounds: per round, the weight-proportional md5
    sample, the per-domain mean-loss aggregate, and the rounded
    multiplicative update — arithmetic identical to ops/pack.py
    hedge_mix_weights (weights and losses rounded to 6dp every round
    so both engines carry identical doubles)."""
    parts = [
        """
    WITH doms AS (SELECT DISTINCT source FROM documents),
    d0 AS (
      SELECT doc_id, source,
             ROUND(1.0 / (1.0 + n_chars / 500.0), 6) AS loss
      FROM documents
    ),
    w0 AS (SELECT source, 1.0 AS w FROM doms)"""
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f""",
    mw{t} AS (SELECT ROUND(SUM(CAST(ROUND(w * 1000000) AS BIGINT))
                     / (1000000.0 * COUNT(*)), 6) AS mw FROM w{t - 1}),
    s{t} AS (
      SELECT d.source,
             ROUND(SUM(CAST(ROUND(d.loss * 1000000) AS BIGINT))
                   / (1000000.0 * COUNT(*)), 6) AS l,
             COUNT(*) AS n
      FROM d0 d JOIN w{t - 1} wt ON d.source = wt.source, mw{t}
      WHERE ((CAST(concat('0x', substr(md5('mix:{t}:' ||
                   CAST(d.doc_id AS VARCHAR)), 1, 12)) AS UBIGINT) + 0.5)
             / 281474976710656.0)
            < LEAST(1.0, {base_rate!r} * wt.w / mw{t}.mw)
      GROUP BY d.source
    ),
    ml{t} AS (SELECT ROUND(SUM(CAST(ROUND(l * 1000000) AS BIGINT))
                     / (1000000.0 * COUNT(*)), 6) AS ml FROM s{t}),
    w{t} AS (
      SELECT w.source,
             CASE WHEN s.l IS NOT NULL
                  THEN ROUND(w.w * (1.0 + ({eta!r} * (s.l - ml.ml)) * (1.0 + ({eta!r} * (s.l - ml.ml)) * (1.0 + ({eta!r} * (s.l - ml.ml)) * (1.0 + ({eta!r} * (s.l - ml.ml)) * (1.0 + ({eta!r} * (s.l - ml.ml)) * (1.0 + ({eta!r} * (s.l - ml.ml)) * (1.0 + ({eta!r} * (s.l - ml.ml)) * (1.0 + ({eta!r} * (s.l - ml.ml)) * (1.0 + ({eta!r} * (s.l - ml.ml)) * (1.0 + ({eta!r} * (s.l - ml.ml)) * (1.0 + ({eta!r} * (s.l - ml.ml)) * (1.0 + ({eta!r} * (s.l - ml.ml)) * 1.0 / 12.0) / 11.0) / 10.0) / 9.0) / 8.0) / 7.0) / 6.0) / 5.0) / 4.0) / 3.0) / 2.0) / 1.0), 6)
                  ELSE w.w END AS w
      FROM w{t - 1} w LEFT JOIN s{t} s ON w.source = s.source, ml{t} ml
    )"""
        )
    parts.append(
        f""",
    tot AS (SELECT SUM(CAST(ROUND(w * 1000000) AS BIGINT)) / 1000000.0
                   AS tw FROM w{rounds})
    SELECT w.source AS domain, w.w AS weight,
           ROUND(w.w / tot.tw, 6) AS p_mix,
           s.l AS last_loss,
           CAST(COALESCE(s.n, 0) AS BIGINT) AS n_sampled_last
    FROM w{rounds} w LEFT JOIN s{rounds} s ON w.source = s.source, tot"""
    )
    return "".join(parts)


@query("pack_hedge_mix_weights", _hedge_oracle())
def pack_hedge_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative-weights (Hedge) domain-mixture optimization
    (`ops/pack.py hedge_mix_weights` — the DoReMi-shaped reweighting
    step): three rounds of weight-proportional deterministic sampling,
    per-domain mean loss in one filtered aggregate each, and the
    rounded exponential update; short-document-heavy sources end up
    upweighted. Completes the training-mix family: `pack_training_mix`/
    `pack_temperature_sample` APPLY given weights, this op LEARNS them
    from evaluated loss. The oracle unrolls the identical schedule."""
    d = load_table(spark, sf_dir, "documents")
    loss = F.round(1.0 / (1.0 + F.col("n_chars") / 500.0), 6)
    return PK.hedge_mix_weights(d, loss, rounds=3, eta=0.5, base_rate=0.5)


# the per-scorer scored CTEs over _RANK_BASE
_BM25_SCORED = """bm25 AS (
        SELECT doc_id,
               ROUND(
                 ln(1 + (n - df_0 + 0.5) / (df_0 + 0.5)) * tf_0 * 2.2
                   / (tf_0 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
               + ln(1 + (n - df_1 + 0.5) / (df_1 + 0.5)) * tf_1 * 2.2
                   / (tf_1 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
               + ln(1 + (n - df_2 + 0.5) / (df_2 + 0.5)) * tf_2 * 2.2
                   / (tf_2 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6)
                   AS score
        FROM base, (
            SELECT COUNT(*) AS n, AVG(dl) AS avgdl,
                   SUM(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS df_0,
                   SUM(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS df_1,
                   SUM(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS df_2
            FROM base)
        WHERE tf_0 + tf_1 + tf_2 > 0
    )"""

_QL_SCORED = """ql AS (
        SELECT doc_id,
               ROUND(ln((tf_0 + 300.0 * cf_0 / c_len) / (dl + 300.0))
                   + ln((tf_1 + 300.0 * cf_1 / c_len) / (dl + 300.0))
                   + ln((tf_2 + 300.0 * cf_2 / c_len) / (dl + 300.0)), 6)
                   AS score
        FROM base, (
            SELECT CAST(SUM(dl) AS DOUBLE) AS c_len,
                   CAST(SUM(tf_0) AS DOUBLE) AS cf_0,
                   CAST(SUM(tf_1) AS DOUBLE) AS cf_1,
                   CAST(SUM(tf_2) AS DOUBLE) AS cf_2
            FROM base)
        WHERE tf_0 + tf_1 + tf_2 > 0
    )"""


@query(
    "rtr_query_likelihood_topk",
    f"""
    WITH {_RANK_BASE},
    {_QL_SCORED}
    SELECT doc_id, score FROM ql
    ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def rtr_query_likelihood_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query likelihood top-10 for {hash, vector,
    spark} (mu=300) — the OTHER classic probabilistic ranker next to
    BM25 (Zhai & Lafferty 2001), and the second voice the RRF fusion
    merges. Map-side tf counts + ONE O(terms) corpus-stats aggregate
    broadcast back; no corpus shuffle (ops/retrieval.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return R.query_likelihood_topk(
        docs, ["hash", "vector", "spark"], k=10, mu=300.0
    )


@query(
    "rtr_jm_smoothing_topk",
    f"""
    WITH {_RANK_BASE},
    jm AS (
        SELECT doc_id,
               ROUND(ln(0.7 * tf_0 / dl + 0.3 * cf_0 / c_len)
                   + ln(0.7 * tf_1 / dl + 0.3 * cf_1 / c_len)
                   + ln(0.7 * tf_2 / dl + 0.3 * cf_2 / c_len), 6) AS score
        FROM base, (
            SELECT CAST(SUM(dl) AS DOUBLE) AS c_len,
                   CAST(SUM(tf_0) AS DOUBLE) AS cf_0,
                   CAST(SUM(tf_1) AS DOUBLE) AS cf_1,
                   CAST(SUM(tf_2) AS DOUBLE) AS cf_2
            FROM base)
        WHERE dl > 0 AND tf_0 + tf_1 + tf_2 > 0
    )
    SELECT doc_id, score FROM jm
    ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def rtr_jm_smoothing_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer-smoothed query likelihood top-10 (lambda=0.3) for
    {hash, vector, spark} — the linear-interpolation smoothing next to
    the registered Dirichlet ranker; together they make smoothing an
    ablation knob (ops/retrieval.py jm_query_likelihood_topk). Same
    no-corpus-shuffle plan: map-side tf + one O(terms) stats broadcast.
    """
    docs = load_table(spark, sf_dir, "documents")
    return R.jm_query_likelihood_topk(
        docs, ["hash", "vector", "spark"], k=10, lam=0.3
    )


@query(
    "rtr_rrf_fusion",
    f"""
    WITH {_RANK_BASE},
    {_BM25_SCORED},
    {_QL_SCORED},
    r0 AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                   AS rank
        FROM bm25 ORDER BY score DESC, doc_id LIMIT 20
    ),
    r1 AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                   AS rank
        FROM ql ORDER BY score DESC, doc_id LIMIT 20
    ),
    fused AS (
        SELECT COALESCE(r0.doc_id, r1.doc_id) AS doc_id,
               ROUND(COALESCE(1.0 / (60 + r0.rank), 0.0)
                   + COALESCE(1.0 / (60 + r1.rank), 0.0), 6) AS rrf_score,
               CASE WHEN r0.rank IS NULL THEN 0 ELSE 1 END AS in_sys0,
               CASE WHEN r1.rank IS NULL THEN 0 ELSE 1 END AS in_sys1
        FROM r0 FULL JOIN r1 USING (doc_id)
    )
    SELECT * FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
)
def rtr_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion of the BM25 and query-likelihood top-20
    lists (k_const=60, Cormack et al. 2009) — the calibration-free
    hybrid-search merge; with a dense retriever attached the SAME op
    fuses lexical + embedding lists unchanged. Only k-row relations
    move after the two scorer aggregates (ops/retrieval.py rrf_fuse)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = ["hash", "vector", "spark"]

    def with_rank(r: DataFrame) -> DataFrame:
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return r.select("doc_id", F.row_number().over(w).alias("rank"))

    bm25 = with_rank(R.bm25_topk(docs, terms, k=20))
    ql = with_rank(R.query_likelihood_topk(docs, terms, k=20, mu=300.0))
    return R.rrf_fuse([bm25, ql], k_const=60, top_k=10)


# BM25's top 10 ranked 1..10: the ranking the retrieval evals score
_BM25_TOP10 = """ranked AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                    AS DOUBLE) AS rank
        FROM bm25 ORDER BY score DESC, doc_id LIMIT 10
    )"""


def _doc_toks(docs: DataFrame) -> DataFrame:
    """Spark twin of `_TOKS`: each document's normalised, non-empty
    tokens as ``toks``."""
    return docs.select(
        "doc_id",
        F.filter(
            F.split(
                F.regexp_replace(
                    F.regexp_replace(F.lower("text"), r"[^a-z0-9\s]", " "),
                    r"\s+",
                    " ",
                ),
                " ",
            ),
            lambda t: t != "",
        ).alias("toks"),
    )


def _has_term(term: str):
    """Does ``toks`` hold *term*? Bound by closure, NOT a defaulted
    second lambda param: HOF lambdas dispatch on arity and a 2-ary
    lambda receives the array index (see ops/retrieval.py::_term_count)."""
    return F.exists("toks", lambda x: x == F.lit(term))


@query(
    "rtr_ndcg_mrr",
    f"""
    WITH {_RANK_BASE},
    {_BM25_SCORED},
    {_BM25_TOP10},
    labels AS (
        SELECT doc_id,
               CAST((CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                   AS rel
        FROM base
    ),
    got AS (
        SELECT l.rel, r.rank FROM labels l JOIN ranked r USING (doc_id)
    ),
    dcg_agg AS (
        SELECT SUM((power(2.0, rel) - 1)
                   / (ln(rank + 1.0) / ln(2.0))) AS dcg,
               MIN(CASE WHEN rel > 0 THEN rank END) AS first_hit
        FROM got
    ),
    ideal AS (
        SELECT rel,
               CAST(ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id)
                    AS DOUBLE) AS rank
        FROM labels ORDER BY rel DESC, doc_id LIMIT 10
    ),
    idcg_agg AS (
        SELECT SUM((power(2.0, rel) - 1)
                   / (ln(rank + 1.0) / ln(2.0))) AS idcg
        FROM ideal
    )
    SELECT CAST(10 AS BIGINT) AS k,
           ROUND(d.dcg, 6) AS dcg,
           ROUND(i.idcg, 6) AS idcg,
           ROUND(d.dcg / i.idcg, 6) AS ndcg,
           ROUND(COALESCE(1.0 / d.first_hit, 0.0), 6) AS mrr
    FROM dcg_agg d, idcg_agg i
    """,
)
def rtr_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 + MRR of the BM25 ranking against graded relevance
    (rel = how many of the query's terms the document contains, 0-3) —
    the retrieval-eval readout every search stack reports. DCG joins
    the broadcast 10-row list against the labels; the ideal ranking is
    TakeOrderedAndProject over labels — never a global sort
    (ops/retrieval.py ranking_metrics)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = ["hash", "vector", "spark"]
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = R.bm25_topk(docs, terms, k=10).select(
        "doc_id", F.row_number().over(w).alias("rank")
    )
    labels = _doc_toks(docs).select(
        "doc_id",
        sum(_has_term(t).cast("int") for t in terms).alias("rel"),
    )
    return R.ranking_metrics(ranked, labels, k=10)


@query(
    "pack_length_buckets",
    """
    WITH d AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
        FROM documents
    ),
    b AS (
        SELECT doc_id, n_tokens,
               NTILE(4) OVER (ORDER BY n_tokens, doc_id) AS bucket
        FROM d
    ),
    g AS (
        SELECT bucket, n_tokens,
               MAX(n_tokens) OVER (PARTITION BY bucket) AS bmax
        FROM b
    ),
    stats AS (
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
               CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
               ROUND(SUM(bmax - n_tokens)
                     / CAST(SUM(bmax) AS DOUBLE), 6) AS pad_frac
        FROM g GROUP BY bucket
    ),
    global_pad AS (
        SELECT ROUND(SUM((SELECT MAX(n_tokens) FROM d) - n_tokens)
                     / CAST(SUM((SELECT MAX(n_tokens) FROM d)) AS DOUBLE),
                     6) AS unbucketed_pad_frac
        FROM d
    )
    SELECT s.bucket, s.n_docs, s.min_tokens, s.max_tokens, s.pad_frac,
           g.unbucketed_pad_frac
    FROM stats s, global_pad g
    """,
)
def pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching plan: documents quartiled by token
    count, per-bucket padding waste when every sequence pads to its
    BUCKET max, vs the unbucketed column where everything pads to the
    GLOBAL max — the standard seq2seq / packing efficiency lever,
    quantified.

    NO global window (r8 verdict #1 fixed): NTILE semantics come from
    the distributed prefix-sum rank of `dq_equidepth_histogram` /
    `select_until_budget` — `repartitionByRange` on (n_tokens, doc_id),
    per-range local row numbers, per-range counts prefix-summed on the
    driver (O(ranges) scalars) and broadcast back, NTILE's ±1 split as
    a closed-form expression of (rank, N). Per-bucket padding needs no
    window either: with bmax constant per bucket,
    Σ(bmax − n_tokens)/Σbmax = (n·max − Σtok)/(n·max), so bucket stats
    are ONE hash aggregate and the global row derives from those 4
    rows. Every stage parallel; plan-guarded single-partition-free."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    n_ranges = 32
    tagged = (
        d.repartitionByRange(n_ranges, F.asc("n_tokens"), F.asc("doc_id"))
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = {r[0]: r[1] for r in tagged.groupBy("_pid").count().collect()}
    total = sum(counts.values())
    offsets, acc = {}, 0
    for p_ in sorted(counts):
        offsets[p_] = acc
        acc += counts[p_]
    off_map = F.create_map(*[F.lit(v) for kv in offsets.items() for v in kv])

    from pyspark.sql import Window

    local = Window.partitionBy("_pid").orderBy(
        F.asc("n_tokens"), F.asc("doc_id")
    )
    rank = off_map[F.col("_pid")] + F.row_number().over(local)
    k = 4
    base, rem = total // k, total % k
    big = rem * (base + 1)
    bucket = F.when(
        rank <= F.lit(big), F.ceil(rank / F.lit(base + 1))
    ).otherwise(F.lit(rem) + F.ceil((rank - F.lit(big)) / F.lit(max(base, 1))))
    stats = (
        tagged.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("_sum_tokens"),
        )
        .withColumn(
            "pad_frac",
            F.round(
                (F.col("n_docs") * F.col("max_tokens") - F.col("_sum_tokens"))
                / (F.col("n_docs") * F.col("max_tokens")).cast("double"),
                6,
            ),
        )
    )
    # global row from the 4 bucket rows: pad-to-global-max waste
    global_pad = stats.agg(
        F.round(
            (F.sum("n_docs") * F.max("max_tokens") - F.sum("_sum_tokens"))
            / (F.sum("n_docs") * F.max("max_tokens")).cast("double"),
            6,
        ).alias("unbucketed_pad_frac")
    )
    return stats.drop("_sum_tokens").crossJoin(F.broadcast(global_pad))


@query(
    "pack_unimax_allocation",
    """
    WITH per AS (
        SELECT lang,
               SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS n
        FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT floor(CAST(SUM(n) AS DOUBLE) * 0.4) AS b FROM per
    ),
    ranked AS (
        SELECT lang, n, CAST(n AS DOUBLE) * 2.0 AS c, t.b,
               ROW_NUMBER() OVER (ORDER BY CAST(n AS DOUBLE) * 2.0, lang)
                   AS idx,
               SUM(CAST(n AS DOUBLE) * 2.0)
                   OVER (ORDER BY CAST(n AS DOUBLE) * 2.0, lang
                         ROWS UNBOUNDED PRECEDING) AS p,
               COUNT(*) OVER () AS k
        FROM per, tot t
    ),
    flagged AS (
        SELECT *, (c * (k - idx + 1) + (p - c) <= b) AS capped FROM ranked
    ),
    solved AS (
        SELECT *,
               SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS jstar,
               SUM(CASE WHEN capped THEN c ELSE 0.0 END) OVER () AS p_capped
        FROM flagged
    )
    SELECT lang, CAST(n AS BIGINT) AS n_tokens, ROUND(c, 4) AS cap,
           ROUND(CASE WHEN capped THEN c
                      ELSE (b - p_capped) / (k - jstar) END, 4) AS alloc,
           ROUND(CASE WHEN capped THEN c
                      ELSE (b - p_capped) / (k - jstar) END
                 / CAST(n AS DOUBLE), 6) AS epochs
    FROM solved
    """,
)
def pack_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax token-budget allocation across languages (ops/pack.py
    unimax_allocation): uniform split of a 0.4·total budget, each
    language capped at 2 epochs of its own tokens — the fair-sampling
    alternative to temperature mixing for multilingual pretraining.
    One fact-sized aggregate; the water-filling solve is closed-form
    windows over the k-language relation."""
    from hudi_utility_spark.ops.pack import unimax_allocation

    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tok"),
    )
    return unimax_allocation(
        d, size_col="n_tok", group_col="lang",
        budget_fraction=0.4, max_epochs=2.0,
    )


def _rocchio_oracle() -> str:
    from hudi_utility_spark.ops.text import _STOPWORDS

    stops = ", ".join(f"'{s}'" for s in _STOPWORDS)
    return f"""
    WITH toks AS (
        SELECT doc_id, t.w, COUNT(*) AS tf
        FROM (SELECT doc_id, {_TOKS} AS ws FROM documents),
             LATERAL (SELECT unnest(ws) AS w) t
        GROUP BY doc_id, t.w
    ),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM toks GROUP BY doc_id),
    stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl
    ),
    dfreq AS (SELECT w, COUNT(*) AS df FROM toks GROUP BY w),
    comp AS (
        SELECT toks.doc_id, toks.w,
               ln(1 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * toks.tf * 2.2
               / (toks.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))
                   AS part
        FROM toks JOIN dl USING (doc_id) JOIN dfreq USING (w), stats s
    ),
    seeds AS (
        SELECT doc_id, ROUND(SUM(part), 6) AS score FROM comp
        WHERE w IN ('hash', 'vector', 'spark')
        GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 5
    ),
    expansion AS (
        SELECT toks.w,
               ROUND(SUM(toks.tf * ln(s.n / CAST(dfreq.df AS DOUBLE))), 6)
                   AS tfidf
        FROM toks JOIN seeds USING (doc_id) JOIN dfreq USING (w), stats s
        WHERE toks.w NOT IN ('hash', 'vector', 'spark')
          AND toks.w NOT IN ({stops})
        GROUP BY toks.w ORDER BY tfidf DESC, toks.w LIMIT 3
    ),
    weights AS (
        SELECT w, 0.5 AS wt FROM expansion
        UNION ALL
        SELECT unnest(['hash', 'vector', 'spark']) AS w, 1.0 AS wt
    )
    SELECT comp.doc_id, ROUND(SUM(wt * part), 6) AS score
    FROM comp JOIN weights USING (w)
    GROUP BY comp.doc_id ORDER BY score DESC, comp.doc_id LIMIT 10
    """


@query("rtr_rocchio_feedback", _rocchio_oracle())
def rtr_rocchio_feedback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback top-10 (ops/retrieval.py
    rocchio_feedback_topk): BM25 seeds → top-TF-IDF expansion terms at
    weight 0.5 → rescore — the classic lexical recall lever. The
    expansion is DATA-DEPENDENT, so scoring runs over the (doc, term,
    tf) inverted-index relation (any term set = a join against a k-row
    weights relation), which is exactly what lets the oracle replay
    both retrieval rounds in one SQL statement."""
    docs = load_table(spark, sf_dir, "documents")
    return R.rocchio_feedback_topk(
        docs, ["hash", "vector", "spark"], k=10, fb_docs=5, fb_terms=3,
        beta=0.5,
    )


@query(
    "rtr_map_precision",
    f"""
    WITH {_RANK_BASE},
    {_BM25_SCORED},
    {_BM25_TOP10},
    labels AS (
        SELECT doc_id,
               CASE WHEN tf_0 > 0 OR tf_1 > 0 OR tf_2 > 0
                    THEN 1.0 ELSE 0.0 END AS rel
        FROM base
    ),
    got AS (
        SELECT r.rank, l.rel,
               SUM(l.rel) OVER (ORDER BY r.rank
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum_rel
        FROM ranked r JOIN labels l USING (doc_id)
    ),
    nrel AS (SELECT SUM(rel) AS total_rel FROM labels)
    SELECT CAST(10 AS BIGINT) AS k,
           ROUND(SUM(CASE WHEN rel > 0 THEN cum_rel / rank ELSE 0 END)
                 / LEAST(MAX(n.total_rel), 10.0), 6) AS ap,
           ROUND(SUM(CASE WHEN rank <= 5 THEN rel ELSE 0 END) / 5.0, 6)
               AS p_at_5,
           ROUND(SUM(rel) / 10.0, 6) AS p_at_10
    FROM got, nrel n
    """,
)
def rtr_map_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision @10 and P@5/P@10 of the BM25 ranking against
    binary relevance (any query term present) — the order-sensitive
    eval next to `rtr_ndcg_mrr`'s graded one: AP integrates precision
    exactly at the recall points, so it punishes a relevant doc pushed
    below an irrelevant one even when the set@k is identical. All
    post-scoring work lives on the 10-row ranked relation; the
    relevant-total is one scalar broadcast."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = ["hash", "vector", "spark"]
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = R.bm25_topk(docs, terms, k=10).select(
        "doc_id", F.row_number().over(w).cast("double").alias("rank")
    )
    rel = None
    for t in terms:
        has = _has_term(t)
        rel = has if rel is None else rel | has
    labels = _doc_toks(docs).select("doc_id", rel.cast("double").alias("rel"))
    wc = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    got = ranked.join(labels, "doc_id").select(
        "rank", "rel", F.sum("rel").over(wc).alias("cum_rel")
    )
    nrel = labels.agg(F.sum("rel").alias("total_rel"))
    return got.crossJoin(F.broadcast(nrel)).agg(
        F.lit(10).cast("long").alias("k"),
        F.round(
            F.sum(
                F.when(
                    F.col("rel") > 0, F.col("cum_rel") / F.col("rank")
                ).otherwise(0.0)
            )
            / F.least(F.max("total_rel"), F.lit(10.0)),
            6,
        ).alias("ap"),
        F.round(
            F.sum(F.when(F.col("rank") <= 5, F.col("rel")).otherwise(0.0))
            / 5.0,
            6,
        ).alias("p_at_5"),
        F.round(F.sum("rel") / 10.0, 6).alias("p_at_10"),
    )


@query(
    "pack_feistel_shuffle",
    """
    WITH f0 AS (
        SELECT doc_id,
               (doc_id >> 16) % 65536 AS l,
               doc_id % 65536 AS r
        FROM documents
    ),
    f1 AS (SELECT doc_id, r AS l,
                  xor(l, (r * 2654435761 + 40503 * 1) % 65536) AS r FROM f0),
    f2 AS (SELECT doc_id, r AS l,
                  xor(l, (r * 2654435761 + 40503 * 2) % 65536) AS r FROM f1),
    f3 AS (SELECT doc_id, r AS l,
                  xor(l, (r * 2654435761 + 40503 * 3) % 65536) AS r FROM f2)
    SELECT doc_id,
           l * 65536 + r AS shuffle_pos,
           (l * 65536 + r) >> 26 AS bucket
    FROM f3
    """,
)
def pack_feistel_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle WITHOUT a shuffle: every doc_id maps
    through a 3-round Feistel permutation (`ops/pack.py
    feistel_shuffle`) to a unique position in the 2^32 domain — a
    map-only bijection, so ordering or range-bucketing by it is a
    reproducible corpus shuffle with zero exchange at assignment time
    (contrast orderBy(rand()): a global sort whose output changes
    under task retry — poison for exactly-once epoch writes). The
    oracle runs the identical 63-bit-safe integer arithmetic unrolled,
    pinning the permutation as a cross-engine dataset CONTRACT; the
    bucket column (top 6 bits) is the write-partition a downstream
    epoch materializer would range-write.

    100 TB posture: narrow projection + codegen'd arithmetic per row;
    one range-exchange on shuffle_pos only when materializing the
    shuffled order — replacing the sort-of-everything."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    out = PK.feistel_shuffle(d, id_col="doc_id", out_col="shuffle_pos")
    return out.select(
        "doc_id",
        "shuffle_pos",
        F.shiftright(F.col("shuffle_pos"), 26).alias("bucket"),
    )
