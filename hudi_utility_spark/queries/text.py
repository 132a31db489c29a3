"""Oracle-checked text-analysis queries over the documents table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.ops import text as X
from hudi_utility_spark.queries import query
from hudi_utility_spark.tables import load_table


# stopword-marker language prediction per document (ops.text.LANG_MARKERS
# and array_max's tiebreak in SQL): the marker hits of a ``words`` list,
# and the argmax over them, shared by the langid oracles
_LANG_SCORES = r"""len(list_intersect(words, ['the','and','of','to','a','in','is'])) AS s_en,
             len(list_intersect(words, ['el','la','de','que','y','los'])) AS s_es,
             len(list_intersect(words, ['le','la','et','les','des','une'])) AS s_fr,
             len(list_intersect(words, ['der','die','und','das','ist','ein'])) AS s_de,
             len(list_intersect(words, ['de5','shi4','le5'])) AS s_zh"""
_LANG_CASE = r"""CASE
               WHEN greatest(s_en,s_es,s_fr,s_de,s_zh) = 0 THEN 'und'
               WHEN s_zh = greatest(s_en,s_es,s_fr,s_de,s_zh) THEN 'zh'
               WHEN s_fr = greatest(s_en,s_es,s_fr,s_de,s_zh) THEN 'fr'
               WHEN s_es = greatest(s_en,s_es,s_fr,s_de,s_zh) THEN 'es'
               WHEN s_en = greatest(s_en,s_es,s_fr,s_de,s_zh) THEN 'en'
               ELSE 'de'
             END"""
_LANGID_PRED = r"""w AS (
      SELECT doc_id, lang,
             list_transform(string_split_regex(trim(text), '\s+'),
                            x -> lower(x)) AS words
      FROM documents
    ), scored AS (
      SELECT doc_id, lang,
             """ + _LANG_SCORES + r"""
      FROM w
    ), pred AS (
      SELECT lang, """ + _LANG_CASE + r""" AS lang_pred
      FROM scored
    )"""


# per-document quality-heuristic inputs and score (ops.text quality
# score), shared by the quality-score oracles
_QUALITY_STATS_COLS = r"""len(string_split_regex(trim(text), '\s+')) AS n_words,
             ROUND(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))
                   / greatest(length(text), 1), 6) AS punct_ratio,
             ROUND(len(list_intersect(
                     list_transform(string_split_regex(trim(text), '\s+'),
                                    x -> lower(x)),
                     ['the','a','an','and','or','of','to','in','is','are',
                      'was','were','be','been','it','this','that','for',
                      'on','with','as','by','at','from']))
                   / greatest(len(string_split_regex(trim(text), '\s+')), 1),
                   6) AS stopword_ratio"""
_QUALITY = r"""ROUND(CASE WHEN n_words < 5 THEN 0.0
                      WHEN punct_ratio > 0.3 THEN 0.2
                      ELSE least(1.0,
                                 ROUND(0.4 * least(n_words / 100.0, 1.0)
                                       + 0.3 * (1 - punct_ratio)
                                       + 0.3 * least(stopword_ratio * 4, 1.0),
                                       6))
                 END, 6) AS quality"""
_QUALITY_STATS = r"""stats AS (
      SELECT doc_id,
             """ + _QUALITY_STATS_COLS + r"""
      FROM documents
    )"""

# lower-cased whitespace tokens ``t`` per document, the n-gram oracles' input
_WORD_TOKS = r"""toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        FROM documents
    )"""


def _trigrams(col: str):
    """The space-joined word trigrams of the token array *col* (at
    least 3 tokens)."""
    return F.transform(
        F.sequence(F.lit(0), F.size(col) - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col(col), i + 1),
            F.element_at(F.col(col), i + 2),
            F.element_at(F.col(col), i + 3),
        ),
    )


@query(
    "text_token_counts",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens,
           len(string_split_regex(trim(text), '\\s+')) AS n_words,
           length(text) AS n_chars_computed
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace words + BPE-ish regex segmentation."""
    d = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    return d.select(
        "doc_id",
        X.token_count(c).alias("n_tokens"),
        X.whitespace_token_count(c).alias("n_words"),
        F.length(c).alias("n_chars_computed"),
    )


@query(
    "text_quality_stats",
    """
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS n_words,
           ROUND(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                 / greatest(length(text), 1), 6) AS punct_ratio,
           ROUND((length(text) - length(regexp_replace(text, '\\s', '', 'g')))
                 / greatest(length(text), 1), 6) AS space_ratio
    FROM documents
    """,
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring ratios (punctuation/whitespace density) — the
    oracle-checkable core of ops.text.with_text_stats."""
    d = load_table(spark, sf_dir, "documents")
    return X.with_text_stats(d).select(
        "doc_id", "n_words", "punct_ratio", "space_ratio"
    )


@query(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                                   '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint (md5 of normalized text) — the dedup identity."""
    d = load_table(spark, sf_dir, "documents")
    return X.fingerprint(d).select("doc_id", "fingerprint")


@query(
    "text_length_by_lang",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           MAX(n_chars) AS max_chars
    FROM documents GROUP BY lang
    """,
)
def text_length_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile by language tag."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "text_language_id",
    r"""
    WITH w AS (
      SELECT doc_id,
             list_transform(string_split_regex(trim(text), '\s+'),
                            x -> lower(x)) AS words
      FROM documents
    ), scored AS (
      SELECT doc_id,
             """ + _LANG_SCORES + r"""
      FROM w
    )
    SELECT CASE
             WHEN greatest(s_en,s_es,s_fr,s_de,s_zh) = 0 THEN 'und'
             -- argmax w/ Spark array_max tiebreak: lexicographically
             -- largest lang wins among equals (zh > fr > es > en > de)
             WHEN s_zh = greatest(s_en,s_es,s_fr,s_de,s_zh) THEN 'zh'
             WHEN s_fr = greatest(s_en,s_es,s_fr,s_de,s_zh) THEN 'fr'
             WHEN s_es = greatest(s_en,s_es,s_fr,s_de,s_zh) THEN 'es'
             WHEN s_en = greatest(s_en,s_es,s_fr,s_de,s_zh) THEN 'en'
             ELSE 'de'
           END AS lang_pred, COUNT(*) AS n_docs
    FROM scored GROUP BY lang_pred
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language-ID heuristic. The oracle replicates the
    marker lists (ops.text.LANG_MARKERS) and array_max's struct tiebreak
    (highest hits, then lexicographically largest lang) in SQL."""
    d = load_table(spark, sf_dir, "documents")
    return (
        X.language_id(d)
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "text_quality_score",
    "\n    WITH "
    + _QUALITY_STATS
    + r"""
    SELECT doc_id,
           """ + _QUALITY + r"""
    FROM stats
    WHERE quality >= 0.0
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score — oracle replicates quality_score's
    C4/Gopher-style formula (ops/text.py) over the same component
    ratios checked in text_quality_stats."""
    d = load_table(spark, sf_dir, "documents")
    return (
        X.quality_score(d)
        .select("doc_id", "quality")
        .filter(F.col("quality") >= 0.0)
    )


@query(
    "text_bpe_tokenize",
    r"""
    SELECT lang,
           CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))
               AS BIGINT) AS bpe_tokens,
           CAST(SUM(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT) AS num_tokens,
           ROUND(AVG(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))), 4)
               AS avg_tokens_per_doc
    FROM documents GROUP BY lang
    """,
)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization (north star: "token counting
    (whitespace + a BPE-ish regex)"): alpha runs, digit runs, and
    isolated punctuation as separate tokens — the pre-tokenizer split
    every BPE vocabulary is trained over. JVM-side regexp_extract_all,
    map-only until the per-lang aggregate; complements the whitespace
    counter in `text_token_counts`."""
    pat = F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(F.regexp_extract_all("text", pat, F.lit(0)))
    n_num = F.size(F.regexp_extract_all("text", F.lit(r"[0-9]+"), F.lit(0)))
    return (
        docs.groupBy("lang")
        .agg(
            F.sum(n_bpe).alias("bpe_tokens"),
            F.sum(n_num).alias("num_tokens"),
            F.round(F.avg(n_bpe), 4).alias("avg_tokens_per_doc"),
        )
    )


@query(
    "text_chunking",
    r"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents
    ),
    starts AS (
        SELECT doc_id, t,
               unnest(range(0, greatest(len(t), 1), 48)) AS s
        FROM toks
    )
    SELECT doc_id,
           s // 48 AS chunk_idx,
           array_to_string(t[s + 1 : s + 64], ' ') AS chunk_text,
           len(t[s + 1 : s + 64]) AS n_tokens
    FROM starts
    WHERE len(t[s + 1 : s + 64]) > 0
    """,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bounded chunking with overlap (64-token windows every 48):
    the step between cleaned documents and fixed-length training
    samples. Map-only transform+slice+posexplode — no shuffle, no
    Python. Oracle reproduces the windows with DuckDB list slicing."""
    d = load_table(spark, sf_dir, "documents")
    return X.chunk_documents(
        d, id_col="doc_id", text_col="text", chunk_tokens=64, overlap_tokens=16
    )


@query(
    "text_pii_redaction",
    r"""
    WITH seeded AS (
        SELECT doc_id,
               text || ' contact user' || doc_id ||
               '@example.com or 10.0.' || doc_id % 256 || '.1 tel +1555'
               || doc_id || '00' AS text
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b(\d{1,3}\.){3}\d{1,3}\b')) AS n_ips,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
             '\+?\d[\d().-]{7,}\d', '<PHONE>', 'g') AS text_redacted
    FROM seeded
    """,
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails/IPs/phones → typed placeholders). The corpus
    carries no natural PII, so the query seeds each doc with
    deterministic doc_id-derived PII first — the redacted text is then a
    strict cross-engine equivalence check of the regex chain."""
    d = load_table(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"), F.lit(".1 tel +1555"),
            F.col("doc_id").cast("string"), F.lit("00"),
        ).alias("text"),
    )
    return X.redact_pii(seeded).select(
        "doc_id", "n_emails", "n_ips", "text_redacted"
    )


@query(
    "text_decontaminate",
    r"""
    WITH """ + _WORD_TOKS + r""",
    grams AS (
        SELECT doc_id, array_to_string(t[s + 1 : s + 5], ' ') AS gram
        FROM toks, UNNEST(range(0, greatest(len(t) - 4, 1), 1)) AS u(s)
        WHERE len(t[s + 1 : s + 5]) >= 5
    ),
    bench AS (
        SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0
    )
    SELECT d.doc_id AS doc_id,
           COUNT(b.gram) > 0 AS contaminated
    FROM toks d
    LEFT JOIN (SELECT DISTINCT g.doc_id FROM grams g
               JOIN bench USING (gram)) hit ON d.doc_id = hit.doc_id
    LEFT JOIN (SELECT 1 AS gram) b ON hit.doc_id IS NOT NULL
    GROUP BY d.doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing any word 5-gram with the
    pseudo-benchmark slice (doc_id % 97 == 0) are flagged. Broadcast
    semi-join on the gram — the eval-leak guard every pretraining corpus
    runs."""
    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return X.decontaminate(d, bench, n=5)


@query(
    "text_repetition_profile",
    r"""
    WITH """ + _WORD_TOKS + r""",
    grams AS (
        SELECT doc_id, array_to_string(t[s + 1 : s + 2], ' ') AS gram
        FROM toks, UNNEST(range(0, greatest(len(t) - 1, 1), 1)) AS u(s)
        WHERE len(t[s + 1 : s + 2]) >= 2
    ),
    per AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2)
    SELECT doc_id,
           ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_ngram_frac,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS distinct_ngram_ratio
    FROM per GROUP BY doc_id
    """,
)
def text_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (Gopher §A1.3 shape): most-repeated
    bigram fraction + distinct-bigram ratio per document."""
    d = load_table(spark, sf_dir, "documents")
    return X.repetition_profile(d, n=2)


def _winnowing_oracle(k: int = 3, window: int = 4) -> str:
    """Winnowing in DuckDB: gram rows → ordered hash list per doc →
    per-row window minima via list HOFs; hashes via ops/phash.py
    fragments, so fingerprints agree bit-for-bit with Spark."""
    from hudi_utility_spark.ops import phash

    h = phash.sql_hash64("g")
    return rf"""
    WITH {_WORD_TOKS},
    ghs AS (
        SELECT doc_id, list({h} ORDER BY s) AS gh FROM (
            SELECT doc_id, s,
                   array_to_string(t[s + 1 : s + {k}], ' ') AS g
            FROM toks, UNNEST(range(0, greatest(len(t) - {k - 1}, 1), 1)) AS u(s)
            WHERE len(t[s + 1 : s + {k}]) >= {k}
        ) GROUP BY doc_id
    ),
    wins AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(0, greatest(len(gh) - {window}, 0) + 1, 1),
                   i -> list_min(list_slice(gh, i + 1, i + {window})))) AS fps
        FROM ghs
    )
    SELECT doc_id, unnest(fps) AS fingerprint FROM wins
    """


@query("text_winnowing_fingerprints", _winnowing_oracle())
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint sets (MOSS): 3-gram hashes, window-4
    minima, per-doc distinct — the rolling-hash-style local-similarity
    fingerprint the brief's text-analysis family names. Map-only HOFs,
    zero shuffle (ops/text.py `winnowing_fingerprints`)."""
    d = load_table(spark, sf_dir, "documents")
    return X.winnowing_fingerprints(d, k=3, window=4)


@query(
    "text_hot_ngram_spans",
    r"""
    WITH """ + _WORD_TOKS + r""",
    grams AS (
        SELECT DISTINCT doc_id, array_to_string(t[s + 1 : s + 8], ' ') AS gram
        FROM toks, UNNEST(range(0, greatest(len(t) - 7, 1), 1)) AS u(s)
        WHERE len(t[s + 1 : s + 8]) >= 8
    ),
    freq AS (SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
           ROUND(CAST(SUM(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS hot_frac
    FROM grams g JOIN freq f USING (gram)
    GROUP BY g.doc_id
    """,
)
def text_hot_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-span detection (substring-dedup
    approximation, Lee et al. 2022): per doc, the fraction of its word
    8-grams shared with at least one other document. Two keyed
    aggregates + one gram join — no pair explosion (ops/text.py
    `flag_hot_ngrams`)."""
    d = load_table(spark, sf_dir, "documents")
    return X.flag_hot_ngrams(d, n=8, min_docs=2)


@query(
    "text_vocab_topk",
    r"""
    WITH toks AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents
    ),
    cnt AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
    tot AS (SELECT SUM(cnt) AS t FROM cnt),
    top AS (SELECT tok, cnt FROM cnt ORDER BY cnt DESC, tok LIMIT 20)
    SELECT tok, CAST(cnt AS BIGINT) AS cnt,
           ROUND(CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / (SELECT t FROM tot), 6) AS cum_share
    FROM top
    """,
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary head profile: top-20 tokens by global frequency with
    cumulative corpus share (the Zipf-head readout tokenizer training
    starts from). Token counts are one hash aggregate; the top-k is
    TakeOrdered (no global sort); the cumulative window runs on the
    20-row result — driver-sized by construction, like the funnel's
    stage window."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("t"))
    top = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(20)
    # cumulative window over the 20-row top-k only — bounded relation
    # (one of the three documented bounded global windows; SCALE.md
    # "Bounded single-partition windows")
    w = Window.orderBy(F.desc("cnt"), F.asc("tok")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("cum_share", F.round(F.sum("cnt").over(w) / F.col("t"), 6))
        .select("tok", "cnt", "cum_share")
    )


@query(
    "text_unigram_logprob",
    r"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(trim(regexp_replace(regexp_replace(
                   lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')) AS tok
        FROM documents
    ),
    toks_nz AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
    counts AS (SELECT tok, COUNT(*) AS c FROM toks_nz GROUP BY tok),
    tot AS (SELECT SUM(c) AS n, COUNT(*) AS v_all FROM counts),
    vocab AS (SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT 1000),
    denomv AS (
        SELECT n + 1.0 * (least(1000, v_all) + 1) AS denom FROM tot
    ),
    lp AS (
        SELECT tok, ln((c + 1.0) / (SELECT denom FROM denomv)) AS logp
        FROM vocab
    )
    SELECT t.doc_id,
           ROUND(-AVG(COALESCE(lp.logp,
                 ln(1.0 / (SELECT denom FROM denomv)))), 6) AS avg_neg_logprob,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN lp.logp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
    FROM toks_nz t LEFT JOIN lp ON t.tok = lp.tok
    GROUP BY t.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality filter: add-1 unigram LM fit on the
    corpus (top-1000 vocab + OOV bucket), each doc scored by mean token
    negative log-probability — the cheap stand-in for KenLM filtering
    (ops/text.py `unigram_logprob_score`; model = 1001 scalars, two
    keyed exchanges total)."""
    d = load_table(spark, sf_dir, "documents")
    return X.unigram_logprob_score(d, vocab_size=1000, alpha=1.0)


def _fhash_oracle(dims: int = 1024) -> str:
    """Feature-hash scorer in DuckDB: identical md5-derived bucket and
    weight arithmetic (ops/phash.py sql fragments)."""
    from hudi_utility_spark.ops import phash

    thi, tlo = phash.sql_parts("tok")
    bucket = f"({phash.sql_family(thi, tlo, 0)} % {dims})"
    wexpr = f"concat('fhw:', CAST({bucket} AS VARCHAR))"
    whi, wlo = phash.sql_parts(wexpr)
    weight = f"({phash.sql_family(whi, wlo, 1)} / {float(phash.P31)} * 2.0 - 1.0)"
    return rf"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(trim(regexp_replace(regexp_replace(
                   lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')) AS tok
        FROM documents
    ),
    nz AS (SELECT doc_id, tok FROM toks WHERE tok <> '')
    SELECT doc_id,
           ROUND(1.0 / (1.0 + exp(-AVG({weight}))), 6) AS score,
           COUNT(*) AS n_tokens
    FROM nz GROUP BY doc_id
    """


@query("text_feature_hash_score", _fhash_oracle(dims=1024))
def text_feature_hash_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear classifier scoring (the fastText hashing-trick
    pipeline): token → weight bucket → sigmoid(mean weight), with a
    deterministically derived stand-in weight table so the full scoring
    plan is hash-checked; trained weights drop into the identical plan
    (ops/text.py `feature_hash_score`)."""
    d = load_table(spark, sf_dir, "documents")
    return X.feature_hash_score(d, dims=1024)


@query(
    "pipeline_curriculum_bins",
    "\n    WITH "
    + _QUALITY_STATS
    + r""",
    scored AS (
      SELECT doc_id, n_words,
             """ + _QUALITY + r"""
      FROM stats
    )
    SELECT LEAST(CAST(FLOOR(quality * 5) AS BIGINT), 4) AS bin,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS bin_tokens,
           ROUND(AVG(quality), 6) AS mean_quality
    FROM scored GROUP BY 1
    """,
)
def pipeline_curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ladder report: documents bucketed into five fixed
    quality bins (the staged-training mix a curriculum scheduler feeds
    from), per bin: volume in documents and tokens plus mean score. One
    map-only scoring pass (quality_score — pure built-ins) and one
    5-group hash aggregate; the bin arithmetic is replayed exactly by
    the oracle on top of the shared quality CTE."""
    d = load_table(spark, sf_dir, "documents")
    scored = X.quality_score(d)
    bin_col = F.least(F.floor(F.col("quality") * 5).cast("long"), F.lit(4).cast("long"))
    return (
        scored.groupBy(bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("bin_tokens"),
            F.round(F.avg("quality"), 6).alias("mean_quality"),
        )
    )


@query(
    "text_span_dedup_rebuild",
    r"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents
    ),
    starts AS (
        SELECT doc_id, t, unnest(range(0, greatest(len(t), 1), 15)) AS s
        FROM toks
    ),
    spans AS (
        SELECT doc_id, s // 15 AS chunk_idx,
               array_to_string(t[s + 1 : s + 15], ' ') AS chunk_text
        FROM starts
        WHERE len(t[s + 1 : s + 15]) > 0
    ),
    flagged AS (
        SELECT doc_id, chunk_idx, chunk_text,
               ROW_NUMBER() OVER (
                 PARTITION BY chunk_text ORDER BY doc_id, chunk_idx) AS rn
        FROM spans
    )
    SELECT doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk_text END,
                               ' ' ORDER BY chunk_idx), '') AS rebuilt
    FROM flagged GROUP BY doc_id
    """,
)
def text_span_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus duplicated-span removal + document reassembly
    (ops/text.py `dedup_spans`): 15-word spans, first occurrence wins,
    documents rebuilt from their surviving spans in order. Two shuffles
    (span-fingerprint window, doc-keyed ordered reassembly)."""
    docs = load_table(spark, sf_dir, "documents")
    return X.dedup_spans(docs, span_tokens=15)


@query(
    "text_source_overlap",
    r"""
    WITH toks AS (
        SELECT source, string_split_regex(lower(trim(text)), '\s+') AS t
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT source AS src,
               array_to_string(t[s + 1 : s + 5], ' ') AS gram
        FROM toks, UNNEST(range(0, greatest(len(t) - 4, 1), 1)) AS u(s)
        WHERE len(t[s + 1 : s + 5]) >= 5
    ),
    totals AS (SELECT src, COUNT(*) AS n_grams FROM grams GROUP BY src),
    inter AS (
        SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS n_common
        FROM grams a JOIN grams b
          ON a.gram = b.gram AND a.src < b.src
        GROUP BY a.src, b.src
    )
    SELECT i.src_a, i.src_b, i.n_common,
           ROUND(i.n_common / ta.n_grams, 6) AS containment_a,
           ROUND(i.n_common / tb.n_grams, 6) AS containment_b
    FROM inter i
    JOIN totals ta ON i.src_a = ta.src
    JOIN totals tb ON i.src_b = tb.src
    """,
)
def text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source 5-gram overlap matrix (ops/text.py
    `source_overlap_matrix`): intersection size + containment ratios
    per source pair — the composition diagnostic run before mixing
    corpora. Gram-keyed self-join with per-gram fan-out bounded by the
    source count (never corpus-quadratic); totals broadcast back."""
    docs = load_table(spark, sf_dir, "documents")
    return X.source_overlap_matrix(docs)


def _dsir_weights_cte(dims: int = 256, alpha: float = 1.0) -> str:
    """Shared DuckDB CTE chain computing DSIR log-weights with the
    identical md5 bucket hash and fixed-order double arithmetic."""
    from hudi_utility_spark.ops import phash

    thi, tlo = phash.sql_parts("tok")
    bucket = f"({phash.sql_family(thi, tlo, 0)} % {dims})"
    ad = float(alpha * dims)
    return rf"""
    toks AS (
        SELECT doc_id, lang, unnest(string_split(trim(regexp_replace(regexp_replace(
                   lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')) AS tok
        FROM documents
    ),
    nz AS (
        SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt, tok
        FROM toks WHERE tok <> ''
    ),
    bt AS (SELECT doc_id, tgt, {bucket} AS bucket FROM nz),
    counts AS (
        SELECT bucket, SUM(tgt) AS ct, COUNT(*) AS cs FROM bt GROUP BY bucket
    ),
    tot AS (SELECT SUM(ct) AS nt, SUM(cs) AS ns FROM counts),
    lr AS (
        SELECT bucket,
               ln((ct + {float(alpha)}) / ((SELECT nt FROM tot) + {ad}))
               - ln((cs + {float(alpha)}) / ((SELECT ns FROM tot) + {ad})) AS lr
        FROM counts
    ),
    weights AS (
        SELECT bt.doc_id,
               ROUND(SUM(lr.lr), 6) AS log_weight,
               COUNT(*) AS n_tokens
        FROM bt JOIN lr USING (bucket) GROUP BY bt.doc_id
    )"""


@query(
    "text_dsir_weights",
    "WITH " + _dsir_weights_cte(dims=256, alpha=1.0) + """
    SELECT doc_id, log_weight, n_tokens FROM weights
    """,
)
def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (hashed-n-gram target/raw log-likelihood
    ratio, Xie et al. 2023) with the English subset as the exemplar
    target — per-doc log-weight + token count, model = 256 scalars, two
    keyed exchanges (ops/text.py `dsir_importance_weights`)."""
    d = load_table(spark, sf_dir, "documents")
    return X.dsir_importance_weights(
        d, F.col("lang") == "en", dims=256, alpha=1.0
    )


@query(
    "text_dsir_select",
    "WITH " + _dsir_weights_cte(dims=256, alpha=1.0) + """
    SELECT doc_id, log_weight, n_tokens,
           ROUND(log_weight
                 - ln(-ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                        1, 12)) AS BIGINT) + 0.5)
                          / 281474976710656.0)), 6) AS sel_key
    FROM weights
    ORDER BY log_weight
             - ln(-ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                    1, 12)) AS BIGINT) + 0.5)
                      / 281474976710656.0)) DESC, doc_id
    LIMIT 100
    """,
)
def text_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR Gumbel-top-k selection: importance resampling without
    replacement executed as one deterministic TakeOrdered — the md5
    formula supplies the Gumbel uniforms, so the selected set is
    engine-reproducible (ops/text.py `dsir_select`)."""
    d = load_table(spark, sf_dir, "documents")
    return X.dsir_select(d, F.col("lang") == "en", k=100, dims=256, alpha=1.0)


@query(
    "text_char_entropy",
    """
    WITH chars AS (
        SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
    ),
    nz AS (SELECT doc_id, ch FROM chars WHERE ch <> ''),
    counts AS (SELECT doc_id, ch, COUNT(*) AS c FROM nz GROUP BY doc_id, ch)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_chars,
           ROUND(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 6) AS entropy_bits
    FROM counts GROUP BY doc_id
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality gate (ops/text.py `char_entropy`):
    bits/char per document via the single-pass
    ``log2(n) − Σ c·log2(c)/n`` identity — two keyed exchanges, rows
    bounded by doc × alphabet."""
    d = load_table(spark, sf_dir, "documents")
    return X.char_entropy(d)


def _bpe_apply(prev: str, i: int) -> str:
    """Merge bp<i> applied to ``<prev>.state``: the trainer's padded
    double replace (twice, so overlapping pairs all merge)."""
    return f"""trim(replace(replace(' ' || {prev}.state || ' ',
                                  ' ' || bp{i}.a || ' ' || bp{i}.b || ' ',
                                  ' ' || bp{i}.a || bp{i}.b || ' '),
                          ' ' || bp{i}.a || ' ' || bp{i}.b || ' ',
                          ' ' || bp{i}.a || bp{i}.b || ' '))"""


def _bpe_encoded(d: DataFrame) -> DataFrame:
    """*d* encoded with the 4 merges `bpe_train_merges` learns from it
    (vocabulary cap 200), in merge-rank order: a collect-driven fit."""
    merges = X.bpe_train_merges(d, n_merges=4, vocab_cap=200).collect()
    pairs = [
        tuple(r.pair.split("+", 1))
        for r in sorted(merges, key=lambda r: r.merge_rank)
    ]
    return X.bpe_encode(d, pairs)


def _bpe_stages(n_merges: int) -> list[str]:
    """One (pairs -> best -> apply) CTE triple per merge round, same
    double-replace application as the trainer."""
    stages = []
    for i in range(1, n_merges + 1):
        prev = f"st{i - 1}"
        stages.append(
            f"""p{i} AS (
      SELECT pr.a AS a, pr.b AS b, SUM(cnt) AS pcnt
      FROM {prev},
           LATERAL (
             SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)]),
                           recursive := true)
             FROM (SELECT string_split({prev}.state, ' ') AS toks)
           ) pr(a, b)
      GROUP BY 1, 2
    ),
    bp{i} AS (SELECT a, b, pcnt FROM p{i} ORDER BY pcnt DESC, a, b LIMIT 1),
    st{i} AS (
      SELECT word, cnt,
             {_bpe_apply(prev, i)} AS state
      FROM {prev}, bp{i}
    )"""
        )
    return stages


def _bpe_oracle(n_merges: int = 4, vocab_cap: int = 200) -> str:
    """Unrolled BPE-training oracle."""
    stages = _bpe_stages(n_merges)
    sel = "\n    UNION ALL ".join(
        f"SELECT {i} AS merge_rank, a || '+' || b AS pair, "
        f"pcnt::BIGINT AS pcnt FROM bp{i}"
        for i in range(1, n_merges + 1)
    )
    return _bpe_train_ctes(stages, vocab_cap) + "\n    " + sel


def _bpe_train_ctes(stages: list[str], vocab_cap: int) -> str:
    return (
        f"""
    WITH w AS (
      SELECT word, COUNT(*)::BIGINT AS cnt
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
            FROM documents)
      GROUP BY word ORDER BY cnt DESC, word LIMIT {vocab_cap}
    ),
    st0 AS (
      SELECT word, cnt, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS state
      FROM w
    ),
    """
        + ",\n    ".join(stages)
    )


@query("text_bpe_train_merges", _bpe_oracle())
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING (not just application): learn
    the top-4 merge rules from the documents corpus — corpus collapses
    to a capped (word,count) vocab in one shuffle, then each round is
    one weighted pair-count aggregate plus a 1-row collect, applied as
    a literal string replace. The oracle unrolls the identical rounds,
    so the learned merge table must match rule-for-rule, count-for-
    count."""
    docs = load_table(spark, sf_dir, "documents")
    return X.bpe_train_merges(docs, "text", n_merges=4, vocab_cap=200)


@query(
    "text_zipf_fit",
    """
    WITH wc AS (
        SELECT word, COUNT(*)::BIGINT AS freq
        FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
              FROM documents)
        GROUP BY word ORDER BY freq DESC, word LIMIT 1000
    ),
    ranked AS (
        SELECT ln(row_number() OVER (ORDER BY freq DESC, word)) AS lr,
               ln(freq) AS lf
        FROM wc
    ),
    s AS (
        SELECT COUNT(*)::DOUBLE AS n, SUM(lr) AS sx, SUM(lf) AS sy,
               SUM(lr * lr) AS sxx, SUM(lr * lf) AS sxy, SUM(lf * lf) AS syy
        FROM ranked
    )
    SELECT ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope,
           ROUND((sy - sx * ((n * sxy - sx * sy) / (n * sxx - sx * sx))) / n,
                 4) AS intercept,
           ROUND(pow(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r2,
           CAST(n AS BIGINT) AS words
    FROM s
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus rank-frequency curve: OLS slope of
    ln(freq) on ln(rank) over the top-1000 words (natural text sits
    near slope -1; synthetic or templated corpora drift far from it —
    a one-row corpus-authenticity diagnostic). One word-count shuffle,
    one window rank over the capped relation, one closed-form
    aggregate; the slope/intercept/r2 come from the normal equations,
    no iteration."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(1000)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("freq"), F.asc("word"))
    ranked = wc.select(
        F.log(F.row_number().over(w).cast("double")).alias("lr"),
        F.log(F.col("freq").cast("double")).alias("lf"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("lr").alias("sx"),
        F.sum("lf").alias("sy"),
        F.sum(F.col("lr") * F.col("lr")).alias("sxx"),
        F.sum(F.col("lr") * F.col("lf")).alias("sxy"),
        F.sum(F.col("lf") * F.col("lf")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        F.round(slope, 4).alias("slope"),
        F.round((sy - sx * slope) / n, 4).alias("intercept"),
        F.round(
            F.pow(n * sxy - sx * sy, F.lit(2.0))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            4,
        ).alias("r2"),
        n.cast("long").alias("words"),
    )


_BP_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)
_BP_TOKS = f"list_filter(string_split({_BP_NORM}, ' '), x -> x != '')"
_BP_BASE = f"""
    toks AS (
        SELECT source, doc_id,
               unnest({_BP_TOKS}) AS token,
               generate_subscripts({_BP_TOKS}, 1) AS pos
        FROM documents
    ),
    per_src AS (
        SELECT source, COUNT(DISTINCT doc_id) AS n_docs
        FROM documents GROUP BY source
    ),
    dfreq AS (
        SELECT source, token, COUNT(DISTINCT doc_id) AS df
        FROM toks GROUP BY source, token
    ),
    vocab AS (
        SELECT source, token, df, n_docs
        FROM dfreq JOIN per_src USING (source)
        WHERE 10 * df >= 8 * n_docs AND n_docs >= 5
    )"""


@query(
    "text_boilerplate_vocab",
    "WITH " + _BP_BASE + "\n    SELECT source, token, df, n_docs FROM vocab",
)
def text_boilerplate_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate discovery (C4 'most common lines per
    domain' at token granularity): tokens present in >= 80% of a
    source's documents. Integer-exact threshold — no float boundary can
    split the engines."""
    d = load_table(spark, sf_dir, "documents")
    return X.boilerplate_vocab(d, ratio_num=8, ratio_den=10, min_docs=5)


@query(
    "text_boilerplate_strip",
    "WITH "
    + _BP_BASE
    + f""",
    kept AS (
        SELECT t.doc_id, t.pos, t.token
        FROM toks t LEFT JOIN vocab v
          ON t.source = v.source AND t.token = v.token
        WHERE v.token IS NULL
    ),
    rebuilt AS (
        SELECT doc_id,
               string_agg(token, ' ' ORDER BY pos) AS text_clean,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    ),
    totals AS (
        SELECT doc_id, len({_BP_TOKS}) AS n_tokens FROM documents
    )
    SELECT t.doc_id,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(t.n_tokens - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.text_clean, '') AS text_clean
    FROM totals t LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal + in-order document rebuild: the discovered
    per-source vocab (vocabulary-sized → broadcast) is anti-joined off
    the exploded corpus, then docs reassemble via array_sort over
    (pos, token) structs — engine-portable order, one doc-keyed
    shuffle. Cleaned text is value-checked byte-for-byte."""
    d = load_table(spark, sf_dir, "documents")
    vocab = X.boilerplate_vocab(d, ratio_num=8, ratio_den=10, min_docs=5)
    out = X.strip_boilerplate(d, vocab)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "n_kept",
        "n_removed",
        "text_clean",
    )


def _bpe_encode_oracle(n_merges: int = 4, vocab_cap: int = 200) -> str:
    """Training CTEs (shared with text_bpe_train_merges) + an encode
    chain applying bp1..bpN to every (doc, word) with the identical
    padded double-replace, then per-doc token counts."""
    enc = []
    for i in range(1, n_merges + 1):
        prev = f"e{i - 1}"
        enc.append(
            f"""e{i} AS (
      SELECT doc_id,
             {_bpe_apply(prev, i)} AS state
      FROM {prev}, bp{i}
    )"""
        )
    return (
        _bpe_train_ctes(_bpe_stages(n_merges), vocab_cap)
        + """,
    docw AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents
    ),
    e0 AS (
      SELECT doc_id, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS state
      FROM docw
    ),
    """
        + ",\n    ".join(enc)
        + f""",
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_words,
             SUM(len(string_split(state, ' '))) AS n_bpe
      FROM e{n_merges} GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE(p.n_bpe, 0) AS BIGINT) AS n_bpe_tokens
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """
    )


@query("text_bpe_encode", _bpe_encode_oracle())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-encode round trip: the learned merge table (collected
    as a rank-ordered driver literal, the PQ-codebook idiom) applies to
    every document as a map-only padded-replace chain; the oracle
    retrains identically in SQL and encodes the same way. Per-doc BPE
    token counts are the compression diagnostic a tokenizer-aware
    packing stage consumes."""
    return _bpe_encoded(load_table(spark, sf_dir, "documents"))


# the bigram LM oracles' pieces: positioned BPE-ish tokens and unigram
# counts; adjacent pairs and the pruned top-2000 bigram table; and each
# document's (n_bigrams, n_model_hits, avg_neg_logprob) from per_doc
_BIGRAM_TOKS = f"""toks AS (
        SELECT doc_id,
               unnest({_BP_TOKS}) AS tok,
               generate_subscripts({_BP_TOKS}, 1) AS pos
        FROM documents
    ),
    uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok)"""
_TOP_BIGRAMS = """pairs AS (
        SELECT a.doc_id, a.tok AS w1, b.tok AS w2
        FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    topbg AS (
        SELECT w1, w2, COUNT(*) AS cb FROM pairs GROUP BY w1, w2
        ORDER BY cb DESC, w1, w2 LIMIT 2000
    )"""
_BIGRAM_SCORES = """SELECT d.doc_id,
           CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(p.hits, 0) AS BIGINT) AS n_model_hits,
           COALESCE(p.s, 0.0) AS avg_neg_logprob
    FROM documents d LEFT JOIN per_doc p USING (doc_id)"""


@query(
    "text_bigram_backoff",
    f"""
    WITH {_BIGRAM_TOKS},
    n AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uni),
    {_TOP_BIGRAMS},
    bgmodel AS (
        SELECT t.w1, t.w2, t.cb, u.c AS c_prev
        FROM topbg t JOIN uni u ON t.w1 = u.tok
    ),
    topuni AS (
        SELECT tok, c FROM uni ORDER BY c DESC, tok LIMIT 5000
    ),
    scored AS (
        SELECT p.doc_id,
               CASE WHEN t.cb IS NOT NULL THEN 1 ELSE 0 END AS hit,
               CASE WHEN t.cb IS NOT NULL
                    THEN -ln(t.cb / CAST(t.c_prev AS DOUBLE))
                    ELSE -(ln(0.4) + ln(COALESCE(u2.c, 1) / n.n))
               END AS neg_logp
        FROM pairs p
        LEFT JOIN bgmodel t ON p.w1 = t.w1 AND p.w2 = t.w2
        LEFT JOIN topuni u2 ON p.w2 = u2.tok, n
    ),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_bigrams, SUM(hit) AS hits,
               ROUND(AVG(neg_logp), 6) AS s
        FROM scored GROUP BY doc_id
    )
    {_BIGRAM_SCORES}
    """,
)
def text_bigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-Backoff bigram fluency scoring (Brants et al. 2007): the
    pruned top-2000 bigram table (with exact c(w1) folded in model-side)
    and the pruned top-5000 unigram vocabulary broadcast onto a map-only
    adjacent-token zip; unseen bigrams back off to lam*c(w)/N with a
    count-1 OOV floor for out-of-vocabulary w. Both broadcasts are
    bounded by construction — at 100 TB the unpruned unigram table is
    O(vocabulary) and would OOM the driver. The oracle refits and
    rescores the identical pruned model in SQL."""
    d = load_table(spark, sf_dir, "documents")
    return X.bigram_backoff_score(d, max_bigrams=2000, max_vocab=5000, lam=0.4)


@query(
    "pack_bpe_budget",
    _bpe_encode_oracle().replace(
        """
    SELECT d.doc_id,
           CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE(p.n_bpe, 0) AS BIGINT) AS n_bpe_tokens
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
        """,
    scored AS (
        SELECT d.doc_id, d.n_chars AS score,
               CAST(COALESCE(p.n_bpe, 0) AS BIGINT) AS n_tokens
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    ),
    c AS (
        SELECT doc_id, score, n_tokens,
               SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens
                   AS start_offset
        FROM scored
    )
    SELECT doc_id, CAST(score AS BIGINT) AS score, n_tokens,
           CAST(start_offset AS BIGINT) AS start_offset
    FROM c WHERE start_offset < 15000
    """,
    ),
)
def pack_bpe_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware corpus cut: the global token-budget selection
    accounted in LEARNED-BPE tokens, not whitespace words — train the
    merge table, encode every document (map-only replace chain), feed
    the counts into the distributed prefix-sum cut. The oracle replays
    training, encoding, and the cumsum cut in one statement. This is
    the composition a real pretraining pipeline runs: the budget is a
    model-token budget, so the accounting must be the model's
    tokenizer."""
    from hudi_utility_spark.ops import pack as PK

    d = load_table(spark, sf_dir, "documents")
    enc = _bpe_encoded(d)
    scored = d.select("doc_id", "n_chars").join(enc, "doc_id").select(
        "doc_id",
        F.col("n_chars").alias("score"),
        F.col("n_bpe_tokens"),
    )
    out = PK.select_until_budget(
        scored,
        token_budget=15_000,
        score_col="score",
        n_ranges=8,
        tokens_col="n_bpe_tokens",
    )
    return out.select(
        "doc_id",
        F.col("score").cast("long").alias("score"),
        "n_tokens",
        F.col("start_offset").cast("long").alias("start_offset"),
    )


@query(
    "text_langid_confusion",
    "\n    WITH "
    + _LANGID_PRED
    + r"""
    SELECT lang, lang_pred, COUNT(*) AS n_docs
    FROM pred GROUP BY lang, lang_pred
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: labeled lang vs the heuristic's
    prediction — the classifier-evaluation readout (per-class recall
    falls out of the row margins). One map-only scoring pass + a
    matrix-sized aggregate."""
    d = load_table(spark, sf_dir, "documents")
    return (
        X.language_id(d)
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "text_vocab_coverage",
    f"""
    WITH toks AS (
        SELECT unnest({_BP_TOKS}) AS token FROM documents
    ),
    vocab AS (
        SELECT token, COUNT(*) AS c,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rnk
        FROM toks GROUP BY token
    ),
    n AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM vocab),
    cum AS (
        SELECT rnk, SUM(c) OVER (ORDER BY rnk) AS cum_c FROM vocab
    )
    SELECT k AS vocab_size,
           ROUND(MAX(CASE WHEN rnk <= k THEN cum_c ELSE 0 END) / n.total, 6)
               AS coverage
    FROM cum, n, (SELECT unnest([10, 20, 30, 40]) AS k) ks
    GROUP BY k, n.total
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: fraction of all corpus tokens covered
    by the top-k vocabulary, k in {{10,20,30,40}} — the readout that
    sizes a tokenizer's vocab (where the curve flattens, bigger vocab
    buys nothing). Ranking and cumsum run over VOCAB rows (Zipf-
    bounded), never the corpus."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(F.split(X.normalized(F.col("text")), " "), lambda t: t != "")
        ).alias("token")
    )
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    w_rnk = Window.orderBy(F.desc("c"), F.asc("token"))
    ranked = vocab.withColumn("rnk", F.row_number().over(w_rnk))
    n = ranked.agg(F.sum("c").cast("double").alias("total"))
    cum = ranked.withColumn(
        "cum_c",
        F.sum("c").over(
            Window.orderBy("rnk").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    ks = spark.range(1, 5).select((F.col("id") * 10).cast("int").alias("vocab_size"))
    return (
        cum.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(n))
        .groupBy("vocab_size", "total")
        .agg(
            F.round(
                F.max(
                    F.when(F.col("rnk") <= F.col("vocab_size"), F.col("cum_c"))
                    .otherwise(0)
                )
                / F.col("total"),
                6,
            ).alias("coverage")
        )
        .select("vocab_size", "coverage")
    )


@query(
    "text_tokenizer_fertility",
    _bpe_encode_oracle().replace(
        """
    SELECT d.doc_id,
           CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE(p.n_bpe, 0) AS BIGINT) AS n_bpe_tokens
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
        """,
    chars AS (
      SELECT doc_id, SUM(len(word)) AS n_chars_w FROM docw GROUP BY doc_id
    ),
    per_lang AS (
      SELECT d.lang,
             SUM(COALESCE(p.n_words, 0)) AS n_words,
             SUM(COALESCE(p.n_bpe, 0)) AS n_bpe,
             SUM(COALESCE(c.n_chars_w, 0)) AS n_chars_w
      FROM documents d LEFT JOIN per_doc p USING (doc_id)
                       LEFT JOIN chars c USING (doc_id)
      GROUP BY d.lang
    )
    SELECT lang,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_bpe AS BIGINT) AS n_bpe_tokens,
           ROUND(CASE WHEN n_words > 0
                      THEN CAST(n_bpe AS DOUBLE) / n_words ELSE 0 END, 6)
               AS tokens_per_word,
           ROUND(CASE WHEN n_bpe > 0
                      THEN CAST(n_chars_w AS DOUBLE) / n_bpe ELSE 0 END, 6)
               AS chars_per_token
    FROM per_lang
    """,
    ),
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: tokens-per-word and chars-per-
    token of the LEARNED BPE tokenizer, per language — THE readout for
    tokenizer-vocabulary equity (a language whose fertility is 2x pays
    2x the context budget and trains 2x slower per character; the
    motivation behind byte-fallback and per-language vocab budgeting).
    Composition of the distributed merge training, the map-only encode
    chain, and a language-keyed rollup; the oracle replays train +
    encode + rollup in one statement."""
    d = load_table(spark, sf_dir, "documents")
    enc = _bpe_encoded(d)
    words = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("([a-z]+)"), 1)
        ).alias("word"),
    )
    chars = words.groupBy("doc_id").agg(
        F.sum(F.length("word")).alias("n_chars_w")
    )
    per_lang = (
        d.select("doc_id", "lang")
        .join(enc, "doc_id", "left")
        .join(chars, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.sum(F.coalesce("n_words", F.lit(0))).alias("n_words"),
            F.sum(F.coalesce("n_bpe_tokens", F.lit(0))).alias("n_bpe"),
            F.sum(F.coalesce("n_chars_w", F.lit(0))).alias("n_chars_w"),
        )
    )
    return per_lang.select(
        "lang",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_bpe").cast("long").alias("n_bpe_tokens"),
        F.round(
            F.when(
                F.col("n_words") > 0,
                F.col("n_bpe").cast("double") / F.col("n_words"),
            ).otherwise(0.0),
            6,
        ).alias("tokens_per_word"),
        F.round(
            F.when(
                F.col("n_bpe") > 0,
                F.col("n_chars_w").cast("double") / F.col("n_bpe"),
            ).otherwise(0.0),
            6,
        ).alias("chars_per_token"),
    )


# Shared Kneser-Ney model+scoring CTE chain (up to per_doc), reused by
# the KN scoring query and the CCNet-style perplexity bucketing query.
_KN_CTES = f"""{_BIGRAM_TOKS},
    {_TOP_BIGRAMS},
    np AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_pairs FROM topbg),
    w1s AS (
        SELECT f.w1, u.c AS c_prev, f.n1f
        FROM (SELECT w1, COUNT(*) AS n1f FROM topbg GROUP BY w1) f
        JOIN uni u ON f.w1 = u.tok
    ),
    n1b AS (SELECT w2, COUNT(*) AS nb FROM topbg GROUP BY w2),
    scored AS (
        SELECT p.doc_id,
               CASE WHEN t.cb IS NOT NULL THEN 1 ELSE 0 END AS hit,
               -ln(CASE
                   WHEN t.cb IS NOT NULL THEN
                       (t.cb - 0.75) / w.c_prev
                       + 0.75 * w.n1f / w.c_prev
                         * COALESCE(b.nb / np.n_pairs, 0.5 / np.n_pairs)
                   WHEN w.n1f IS NOT NULL THEN
                       0.75 * w.n1f / w.c_prev
                         * COALESCE(b.nb / np.n_pairs, 0.5 / np.n_pairs)
                   ELSE COALESCE(b.nb / np.n_pairs, 0.5 / np.n_pairs)
               END) AS neg_logp
        FROM pairs p
        LEFT JOIN topbg t ON p.w1 = t.w1 AND p.w2 = t.w2
        LEFT JOIN w1s w ON p.w1 = w.w1
        LEFT JOIN n1b b ON p.w2 = b.w2, np
    ),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_bigrams, SUM(hit) AS hits,
               ROUND(AVG(neg_logp), 6) AS s
        FROM scored GROUP BY doc_id
    )"""


@query(
    "text_kneser_ney",
    f"""
    WITH {_KN_CTES}
    {_BIGRAM_SCORES}
    """,
)
def text_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram fluency scoring (D=0.75) — the
    third rung of the LM ladder (unigram -> Stupid Backoff -> KN):
    discounted bigram mass interpolated with CONTINUATION probability
    (how many contexts a word follows), the fix for collocation-bound
    words. Every model relation derives from the pruned top-2000
    bigram table, so every broadcast is bounded by construction; the
    oracle refits and rescores the identical pruned model in SQL."""
    d = load_table(spark, sf_dir, "documents")
    return X.kneser_ney_score(d, max_bigrams=2000, discount=0.75)


@query(
    "text_ccnet_buckets",
    f"""
    WITH {_KN_CTES},
    scored_docs AS (
        SELECT d.doc_id, d.lang, COALESCE(p.s, 0.0) AS nlp
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    ),
    b AS (
        SELECT lang, nlp,
               NTILE(3) OVER (PARTITION BY lang
                              ORDER BY nlp, doc_id) AS bucket
        FROM scored_docs
    )
    SELECT lang, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(nlp), 6) AS avg_nlp
    FROM b GROUP BY lang, bucket
    """,
)
def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): within
    each language, documents split into head/middle/tail terciles of
    LM score (here the Kneser-Ney negative log-prob) — the standard
    quality gate that keeps the head, samples the middle, drops the
    tail, PER LANGUAGE so high-resource fluency doesn't starve
    low-resource languages. NTILE runs per-lang over doc-rounded
    scores with a total order, so the split is deterministic on both
    engines."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    scored = X.kneser_ney_score(d, max_bigrams=2000, discount=0.75)
    docs = d.select("doc_id", "lang").join(
        scored.select("doc_id", "avg_neg_logprob"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy("avg_neg_logprob", "doc_id")
    b = docs.select(
        "lang",
        F.col("avg_neg_logprob").alias("nlp"),
        F.ntile(3).over(w).alias("bucket"),
    )
    return b.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("nlp"), 6).alias("avg_nlp"),
    )


@query(
    "text_gopher_rules",
    """
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x != '') AS words,
               list_filter(string_split(text, chr(10)),
                           l -> trim(l) != '') AS lines,
               trim(text) AS t
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(words) AS wc,
               list_sum(list_transform(words, x -> length(x))) AS chars,
               (length(t) - length(replace(t, '#', ''))) / 1 AS n_hash,
               (length(t) - length(replace(t, '...', ''))) / 3 AS n_ell,
               len(list_filter(words,
                   x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
               len(lines) AS nl,
               len(list_filter(lines,
                   l -> regexp_matches(trim(l), '^[-*•]'))) AS n_bul,
               len(list_filter(lines,
                   l -> regexp_matches(trim(l), '\\.\\.\\.$'))) AS n_elline,
               (CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'the') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'be') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'to') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'of') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'and') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'that') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'have') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'with') THEN 1 ELSE 0 END)
                   AS n_stop
        FROM w
    ),
    f AS (
        SELECT doc_id,
               CASE WHEN wc >= 50 AND wc <= 100000 THEN 1 ELSE 0 END
                   AS f_word_count,
               CASE WHEN wc > 0 AND chars / wc >= 3 AND chars / wc <= 10
                    THEN 1 ELSE 0 END AS f_mean_word_len,
               CASE WHEN wc > 0 AND (n_hash + n_ell) / wc <= 0.1
                    THEN 1 ELSE 0 END AS f_symbol_ratio,
               CASE WHEN wc > 0 AND n_alpha / CAST(wc AS DOUBLE) >= 0.8
                    THEN 1 ELSE 0 END AS f_alpha_words,
               CASE WHEN nl = 0 OR n_bul / CAST(nl AS DOUBLE) <= 0.9
                    THEN 1 ELSE 0 END AS f_bullets,
               CASE WHEN nl = 0 OR n_elline / CAST(nl AS DOUBLE) <= 0.3
                    THEN 1 ELSE 0 END AS f_ellipsis_lines,
               CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS f_stopwords
        FROM m
    )
    SELECT *,
           CASE WHEN f_word_count + f_mean_word_len + f_symbol_ratio
                   + f_alpha_words + f_bullets + f_ellipsis_lines
                   + f_stopwords = 7 THEN 1 ELSE 0 END AS passes
    FROM f
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PUBLISHED Gopher quality thresholds (Rae et al. 2021 App. A)
    as per-document, per-rule pass flags — the named rule set every
    web-corpus filter descends from, in the per-rule form an ablation
    pipeline consumes (vs `text_quality_score`'s composite). One
    map-only stage of codegen'd array expressions (ops/text.py
    gopher_rules)."""
    d = load_table(spark, sf_dir, "documents")
    return X.gopher_rules(d)


_RAKE_STOPS = (
    "'the','a','an','and','or','of','to','in','is','are','was','were',"
    "'be','been','it','this','that','for','on','with','as','by','at',"
    "'from'"
)


@query(
    "text_rake_keywords",
    f"""
    WITH toks AS (
        SELECT doc_id AS doc, t.i AS pos, t.w AS w
        FROM (
            SELECT doc_id,
                   string_split(
                       trim(regexp_replace(regexp_replace(lower(text),
                           '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')),
                       ' ') AS ws
            FROM documents
        ),
        LATERAL (SELECT unnest(ws) AS w, generate_subscripts(ws, 1) AS i) t
        WHERE t.w != ''
    ),
    pid AS (
        SELECT doc, pos, w,
               SUM(CASE WHEN w IN ({_RAKE_STOPS}) THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc ORDER BY pos) AS phrase_id,
               CASE WHEN w IN ({_RAKE_STOPS}) THEN 1 ELSE 0 END AS stop
        FROM toks
    ),
    nonstop AS (SELECT doc, pos, w, phrase_id FROM pid WHERE stop = 0),
    words AS (
        SELECT doc, pos, w, phrase_id,
               COUNT(*) OVER (PARTITION BY doc, phrase_id) AS plen
        FROM nonstop
    ),
    wstats AS (
        SELECT w, COUNT(*) AS freq, SUM(plen) AS degree
        FROM words GROUP BY w
    ),
    inst AS (
        SELECT words.doc, words.phrase_id,
               string_agg(words.w, ' ' ORDER BY words.pos) AS phrase,
               SUM(CAST(ws.degree AS DOUBLE) / ws.freq) AS score
        FROM words JOIN wstats ws ON words.w = ws.w
        GROUP BY words.doc, words.phrase_id
    )
    SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           ROUND(MAX(score), 6) AS score
    FROM inst GROUP BY phrase
    ORDER BY ROUND(MAX(score), 6) DESC, phrase LIMIT 15
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (ops/text.py rake_keywords): stopword-
    delimited candidate phrases scored by Σ word degree/frequency —
    the unsupervised keyword baseline for corpus curation. Phrase ids
    come from a per-DOC cumulative-stopword window (never global);
    word stats are one vocabulary-sized aggregate joined back
    broadcast. Top-15 on ROUND(score, 6), phrase tiebreak."""
    d = load_table(spark, sf_dir, "documents")
    return X.rake_keywords(d, k=15)


_NB_NORM = (
    "string_split(trim(regexp_replace(regexp_replace(lower(text),"
    " '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')"
)
# each language's normalised word counts (lang, w, c)
_LANG_WORD_COUNTS = f"""toks AS (
        SELECT lang, t.w FROM (
            SELECT lang, {_NB_NORM} AS ws FROM documents
        ), LATERAL (SELECT unnest(ws) AS w) t
        WHERE t.w != ''
    ),
    counts AS (SELECT lang, w, COUNT(*) AS c FROM toks GROUP BY 1, 2)"""


def _lang_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of `_LANG_WORD_COUNTS`."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split(X.normalized(F.col("text")), " ")).alias("w")
    ).filter(F.col("w") != "")
    return toks.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))


@query(
    "ml_naive_bayes_langid",
    f"""
    WITH base AS (
        SELECT doc_id AS doc, lang AS label, {_NB_NORM} AS ws,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                    AS BIGINT) % 2 AS split
        FROM documents
    ),
    train_toks AS (
        SELECT label, t.w FROM base,
               LATERAL (SELECT unnest(ws) AS w) t
        WHERE split = 0 AND t.w != ''
    ),
    counts AS (SELECT label, w, COUNT(*) AS c FROM train_toks GROUP BY 1, 2),
    nl AS (SELECT label, COUNT(*) AS n_l FROM train_toks GROUP BY label),
    vocab AS (SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS v FROM train_toks),
    priors AS (
        SELECT label,
               ln(COUNT(*) / (SELECT CAST(COUNT(*) AS DOUBLE)
                              FROM base WHERE split = 0)) AS prior
        FROM base WHERE split = 0 GROUP BY label
    ),
    stats AS (
        SELECT p.label AS cand, p.prior, nl.n_l + v.v AS den
        FROM priors p JOIN nl ON nl.label = p.label, vocab v
    ),
    test_toks AS (
        SELECT doc, label AS true_lang, t.w FROM base,
               LATERAL (SELECT unnest(ws) AS w) t
        WHERE split = 1 AND t.w != ''
    ),
    scored AS (
        SELECT tt.doc, tt.true_lang, s.cand,
               MAX(s.prior)
               + SUM(ln((COALESCE(c.c, 0) + 1) / s.den)) AS score
        FROM test_toks tt
        CROSS JOIN stats s
        LEFT JOIN counts c ON c.label = s.cand AND c.w = tt.w
        GROUP BY tt.doc, tt.true_lang, s.cand, s.den
    ),
    pred AS (
        SELECT true_lang, cand AS pred_lang FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc ORDER BY ROUND(score, 4) DESC, cand) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2
    """,
)
def ml_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language-ID confusion matrix (ops/text.py
    naive_bayes_langid): an md5 half trains Laplace-smoothed word
    likelihoods, the held-out half is argmax-classified, and the result
    is the (true, predicted, n) confusion table — the trainable
    bag-of-words classifier template every quality/domain filter in a
    curation pipeline reuses. One vocabulary-keyed join; argmax ranks
    on ROUND(score, 4), label tiebreak."""
    d = load_table(spark, sf_dir, "documents")
    return X.naive_bayes_langid(d)


def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEFLATE compression-ratio histogram of the corpus (ops/text.py
    compression_ratio — the declared zlib Arrow kernel): documents
    bucketed by ratio decile with per-bucket counts and mean length —
    the classic repetition/boilerplate screen (too-compressible =
    template farms, spam; CCNet/Gopher-era pipelines cut on exactly
    this). Deliberately NOT a registered query (the
    `approx_distinct_profile` precedent, engine_queries.py): no SQL
    engine exposes DEFLATE, so a driver draw could only record a
    guaranteed-red `no_oracle` row. Exact zlib ratios are pinned by
    pytest (tests/test_ops_stats_r9.py, tests/test_queries_r9b.py) and
    the plan guard still audits its physical plan by direct call."""
    d = load_table(spark, sf_dir, "documents")
    from hudi_utility_spark.ops.text import compression_ratio

    r = compression_ratio(d).join(
        d.select("doc_id", F.length("text").alias("n_chars_c")), "doc_id"
    )
    return (
        r.filter(F.col("ratio").isNotNull())
        .groupBy(
            (F.floor(F.col("ratio") * 10) / 10).alias("ratio_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("ratio"), 6).alias("mean_ratio"),
            F.round(F.avg("n_chars_c"), 2).alias("mean_chars"),
        )
        .orderBy("ratio_bucket")
    )


@query(
    "text_js_divergence",
    f"""
    WITH {_LANG_WORD_COUNTS},
    totals AS (SELECT lang, SUM(c) AS n FROM counts GROUP BY lang),
    probs AS (
        SELECT c.lang, c.w, c.c / CAST(t.n AS DOUBLE) AS p
        FROM counts c JOIN totals t ON t.lang = c.lang
    ),
    shared AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b,
               SUM(0.5 * (a.p * ln(2 * a.p / (a.p + b.p))
                          + b.p * ln(2 * b.p / (a.p + b.p)))) AS js_shared,
               SUM(a.p) AS pa_shared, SUM(b.p) AS pb_shared
        FROM probs a JOIN probs b ON a.w = b.w AND a.lang < b.lang
        GROUP BY a.lang, b.lang
    )
    SELECT lang_a, lang_b,
           ROUND(js_shared
                 + 0.5 * ln(2) * ((1 - pa_shared) + (1 - pb_shared)),
                 6) AS jsd_nats
    FROM shared
    """,
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between every language pair's unigram
    distribution — the symmetric, bounded (≤ ln 2) mixture-distance
    that quantifies how far two corpus slices have drifted apart (the
    domain/contamination monitor DSIR-style selection assumes). Words
    present in only one language contribute exactly ½·p·ln2, so the
    shared-vocabulary equijoin plus the per-pair leftover mass
    (1 − Σ shared p) is the COMPLETE divergence — no full-outer join,
    no zero-filled grid; the only data-sized work is the (lang, word)
    count aggregate."""
    counts = _lang_word_counts(spark, sf_dir)
    totals = counts.groupBy("lang").agg(F.sum("c").alias("n"))
    probs = counts.join(totals, "lang").select(
        "lang", "w", (F.col("c") / F.col("n").cast("double")).alias("p")
    )
    a = probs.select(
        F.col("lang").alias("lang_a"), "w", F.col("p").alias("pa")
    )
    b = probs.select(
        F.col("lang").alias("lang_b"), "w", F.col("p").alias("pb")
    )
    shared = (
        a.join(b, "w")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(
            F.sum(
                0.5
                * (
                    F.col("pa")
                    * F.log(2 * F.col("pa") / (F.col("pa") + F.col("pb")))
                    + F.col("pb")
                    * F.log(2 * F.col("pb") / (F.col("pa") + F.col("pb")))
                )
            ).alias("js_shared"),
            F.sum("pa").alias("pa_shared"),
            F.sum("pb").alias("pb_shared"),
        )
    )
    import math

    return shared.select(
        "lang_a",
        "lang_b",
        F.round(
            F.col("js_shared")
            + 0.5
            * F.lit(math.log(2.0))
            * ((1 - F.col("pa_shared")) + (1 - F.col("pb_shared"))),
            6,
        ).alias("jsd_nats"),
    )


@query(
    "text_hapax_profile",
    f"""
    WITH {_LANG_WORD_COUNTS}
    SELECT lang,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_ratio,
           ROUND(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dis_ratio
    FROM counts GROUP BY lang
    """,
)
def text_hapax_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena profile per language: the share of vocabulary
    seen exactly once (and exactly twice) — the vocabulary-growth
    signal behind Good-Turing smoothing and the cheapest corpus-
    authenticity check (generated/templated text collapses the hapax
    tail; natural language holds it near 40-60%). One (lang, word)
    count aggregate, per-language rollup."""
    counts = _lang_word_counts(spark, sf_dir)
    return counts.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum((F.col("c") == 1).cast("int")).cast("long").alias("hapax"),
        F.round(
            F.sum((F.col("c") == 1).cast("int"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("hapax_ratio"),
        F.round(
            F.sum((F.col("c") == 2).cast("int"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dis_ratio"),
    )


@query(
    "text_heaps_law",
    f"""
    WITH toks AS (
        SELECT doc_id, t.w FROM (
            SELECT doc_id, {_NB_NORM} AS ws FROM documents
        ), LATERAL (SELECT unnest(ws) AS w) t
        WHERE t.w != ''
    ),
    firsts AS (SELECT w, MIN(doc_id) AS first_doc FROM toks GROUP BY w),
    dtok AS (SELECT doc_id, COUNT(*) AS nt FROM toks GROUP BY doc_id),
    brow AS (
        SELECT quantile_cont(doc_id, [0.1, 0.2, 0.3, 0.4, 0.5,
                                      0.6, 0.7, 0.8, 0.9, 1.0]) AS bs
        FROM dtok
    ),
    bounds AS (
        SELECT CAST(t.i AS INTEGER) AS k, brow.bs[t.i] AS b
        FROM brow, LATERAL (SELECT unnest(generate_series(1, 10)) AS i) t
    ),
    vk AS (
        SELECT b.k, CAST(COUNT(*) AS DOUBLE) AS v
        FROM firsts f JOIN bounds b ON f.first_doc <= b.b
        GROUP BY b.k
    ),
    nk AS (
        SELECT b.k, CAST(SUM(d.nt) AS DOUBLE) AS n
        FROM dtok d JOIN bounds b ON d.doc_id <= b.b
        GROUP BY b.k
    ),
    pts AS (
        SELECT vk.k, nk.n AS n, vk.v AS v, ln(nk.n) AS x, ln(vk.v) AS y
        FROM vk JOIN nk ON vk.k = nk.k
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS m,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy
        FROM pts
    )
    SELECT p.k,
           CAST(p.n AS BIGINT) AS n_tokens,
           CAST(p.v AS BIGINT) AS vocab,
           ROUND((f.m * f.sxy - f.sx * f.sy)
                 / (f.m * f.sxx - f.sx * f.sx), 6) + 0.0 AS heaps_beta,
           ROUND(exp((f.sy - (f.m * f.sxy - f.sx * f.sy)
                            / (f.m * f.sxx - f.sx * f.sx) * f.sx) / f.m),
                 4) + 0.0 AS heaps_k
    FROM pts p, fit f
    """,
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V = K·N^beta of vocabulary growth — the
    sublinear-growth constant that sizes tokenizer vocabularies and
    detects templated corpora (natural text: beta ~0.4-0.6; template
    farms flatten it), complementing the registered Zipf fit. NO
    global ordering: growth checkpoints are doc_id DECILE BOUNDARIES
    from one exact percentile aggregate, each word contributes via its
    min-doc_id first occurrence, and cumulative (V, N) per checkpoint
    come from a bounded 10-row boundary join — the same
    boundaries-not-NTILE discipline as RFM/lift. beta/K from log-log
    OLS sufficient stats over the 10 points, repeated per row."""
    d = load_table(spark, sf_dir, "documents")
    from hudi_utility_spark.ops.text import normalized

    toks = d.select(
        "doc_id",
        F.explode(F.split(normalized(F.col("text")), " ")).alias("w"),
    ).filter(F.col("w") != "")
    firsts = toks.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    dtok = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nt"))
    probs = F.array(*[F.lit(i / 10.0) for i in range(1, 11)])
    brow = dtok.agg(F.percentile("doc_id", probs).alias("bs"))
    bounds = brow.select(
        F.posexplode("bs").alias("k0", "b")
    ).select((F.col("k0") + 1).cast("int").alias("k"), "b")
    vk = (
        firsts.join(F.broadcast(bounds), F.col("first_doc") <= F.col("b"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("double").alias("v"))
    )
    nk = (
        dtok.join(F.broadcast(bounds), F.col("doc_id") <= F.col("b"))
        .groupBy("k")
        .agg(F.sum("nt").cast("double").alias("n"))
    )
    pts = vk.join(nk, "k").select(
        "k", "n", "v", F.log("n").alias("x"), F.log("v").alias("y")
    )
    fit = pts.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    beta = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    kconst = F.exp((F.col("sy") - beta * F.col("sx")) / F.col("m"))
    # + 0.0 after the final round: the sf0.01 corpus's flat vocabulary
    # makes the OLS slope ~±1e-17, whose SIGN depends on partial-sum
    # order; IEEE -0.0 + 0.0 = +0.0 pins the rounded zero's sign on
    # both engines (r9 verdict #3 — loaded 2-way-parallel gate repro).
    return pts.crossJoin(F.broadcast(fit)).select(
        "k",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("v").cast("long").alias("vocab"),
        (F.round(beta, 6) + F.lit(0.0)).alias("heaps_beta"),
        (F.round(kconst, 4) + F.lit(0.0)).alias("heaps_k"),
    )


@query(
    "ml_classification_report",
    f"""
    WITH {_LANGID_PRED},
    conf AS (
        SELECT lang, lang_pred, CAST(COUNT(*) AS DOUBLE) AS n
        FROM pred GROUP BY lang, lang_pred
    ),
    per_true AS (
        SELECT lang AS label, SUM(n) AS support,
               SUM(CASE WHEN lang_pred = lang THEN n ELSE 0 END) AS tp
        FROM conf GROUP BY lang
    ),
    per_pred AS (
        SELECT lang_pred AS label, SUM(n) AS predicted FROM conf
        GROUP BY lang_pred
    ),
    cls AS (
        SELECT t.label, t.support, t.tp,
               COALESCE(p.predicted, 0) AS predicted,
               CASE WHEN COALESCE(p.predicted, 0) = 0 THEN 0.0
                    ELSE t.tp / p.predicted END AS prec,
               t.tp / t.support AS rec
        FROM per_true t LEFT JOIN per_pred p ON t.label = p.label
    )
    SELECT label, CAST(support AS BIGINT) AS support,
           CAST(tp AS BIGINT) AS tp,
           CAST(predicted - tp AS BIGINT) AS fp,
           CAST(support - tp AS BIGINT) AS fn,
           ROUND(prec, 6) AS precision,
           ROUND(rec, 6) AS recall,
           ROUND(CASE WHEN prec + rec = 0 THEN 0.0
                      ELSE 2 * prec * rec / (prec + rec) END, 6) AS f1
    FROM cls
    UNION ALL
    SELECT '__macro__', CAST(SUM(support) AS BIGINT), CAST(SUM(tp) AS BIGINT),
           CAST(SUM(predicted - tp) AS BIGINT),
           CAST(SUM(support - tp) AS BIGINT),
           ROUND(AVG(prec), 6), ROUND(AVG(rec), 6),
           ROUND(AVG(CASE WHEN prec + rec = 0 THEN 0.0
                          ELSE 2 * prec * rec / (prec + rec) END), 6)
    FROM cls
    """,
)
def ml_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 + a macro-average row for the
    stopword-marker language classifier — the scikit-learn-style
    classification report that turns `text_langid_confusion`'s raw
    matrix into decision-ready metrics. Everything after the map-only
    scoring pass operates on the CONFUSION relation (|langs|² rows):
    two matrix-sized aggregates and one broadcast join; 'und'
    predictions count as false negatives of their true class (no 'und'
    truth row), exactly as the oracle says it."""
    d = load_table(spark, sf_dir, "documents")
    conf = (
        X.language_id(d)
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
        .localCheckpoint(eager=False)
    )
    per_true = conf.groupBy(F.col("lang").alias("label")).agg(
        F.sum("n").alias("support"),
        F.sum(F.when(F.col("lang_pred") == F.col("lang"), F.col("n")).otherwise(0.0)).alias("tp"),
    )
    per_pred = conf.groupBy(F.col("lang_pred").alias("label")).agg(
        F.sum("n").alias("predicted")
    )
    prec = F.when(F.coalesce(F.col("predicted"), F.lit(0.0)) == 0, 0.0).otherwise(
        F.col("tp") / F.col("predicted")
    )
    rec = F.col("tp") / F.col("support")
    cls = (
        per_true.join(F.broadcast(per_pred), "label", "left")
        .select(
            "label",
            "support",
            "tp",
            F.coalesce(F.col("predicted"), F.lit(0.0)).alias("predicted"),
            prec.alias("prec"),
            rec.alias("rec"),
        )
        .localCheckpoint(eager=False)
    )
    f1 = F.when(F.col("prec") + F.col("rec") == 0, 0.0).otherwise(
        2 * F.col("prec") * F.col("rec") / (F.col("prec") + F.col("rec"))
    )
    per_class = cls.select(
        "label",
        F.col("support").cast("long").alias("support"),
        F.col("tp").cast("long").alias("tp"),
        (F.col("predicted") - F.col("tp")).cast("long").alias("fp"),
        (F.col("support") - F.col("tp")).cast("long").alias("fn"),
        F.round("prec", 6).alias("precision"),
        F.round("rec", 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )
    macro = cls.agg(
        F.lit("__macro__").alias("label"),
        F.sum("support").cast("long").alias("support"),
        F.sum("tp").cast("long").alias("tp"),
        F.sum(F.col("predicted") - F.col("tp")).cast("long").alias("fp"),
        F.sum(F.col("support") - F.col("tp")).cast("long").alias("fn"),
        F.round(F.avg("prec"), 6).alias("precision"),
        F.round(F.avg("rec"), 6).alias("recall"),
        F.round(F.avg(f1), 6).alias("f1"),
    )
    return per_class.unionByName(macro)


@query(
    "text_good_turing",
    f"""
    WITH grams AS (
        SELECT unnest(list_transform(
                   range(1, len({_BP_TOKS}) - 1),
                   i -> {_BP_TOKS}[i] || ' ' || {_BP_TOKS}[i+1] || ' '
                        || {_BP_TOKS}[i+2])) AS token
        FROM documents WHERE len({_BP_TOKS}) >= 3
    ),
    vocab AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS r FROM grams
              GROUP BY token),
    tot AS (SELECT SUM(r) AS n_tokens FROM vocab),
    coc AS (SELECT r, CAST(COUNT(*) AS DOUBLE) AS n_r FROM vocab
            WHERE r <= 11 GROUP BY r)
    SELECT CAST(a.r AS BIGINT) AS r,
           CAST(a.n_r AS BIGINT) AS n_types,
           ROUND((a.r + 1) * COALESCE(b.n_r, 0) / a.n_r, 6) AS gt_count,
           ROUND(a.r * a.n_r / t.n_tokens, 6) AS mle_mass
    FROM coc a LEFT JOIN coc b ON b.r = a.r + 1, tot t
    WHERE a.r <= 10
    """,
)
def text_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing count-of-counts profile for TRIGRAM frequencies r =
    1..10: N_r type counts, the GT-adjusted count r* = (r+1)N_{{r+1}}/N_r,
    and the MLE probability mass at each r — the smoothing table under
    `text_kneser_ney`'s discounts and the standard unseen-mass estimate
    (r*=0 rows mean the corpus saturates that count). Trigrams, not
    unigrams: the synthetic corpus' 31-word vocabulary has no sparse
    unigram counts, while trigram types live exactly in the GT regime.
    One corpus gram aggregate collapses to the Zipf-bounded gram vocab, a second collapses
    vocab to <= 11 count-of-count rows; the r+1 lookup is a self-join
    on that 11-row relation."""
    d = load_table(spark, sf_dir, "documents")
    ts = F.filter(F.split(X.normalized(F.col("text")), " "), lambda t: t != "")
    grams = d.select(ts.alias("ts")).filter(F.size("ts") >= 3).select(
        F.explode(_trigrams("ts")).alias("token")
    )
    vocab = grams.groupBy("token").agg(
        F.count(F.lit(1)).cast("double").alias("r")
    )
    tot = vocab.agg(F.sum("r").alias("n_tokens"))
    coc = (
        vocab.filter(F.col("r") <= 11)
        .groupBy("r")
        .agg(F.count(F.lit(1)).cast("double").alias("n_r"))
        .localCheckpoint(eager=False)
    )
    nxt = coc.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1"))
    return (
        coc.filter(F.col("r") <= 10)
        .join(F.broadcast(nxt), "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("r").cast("long").alias("r"),
            F.col("n_r").cast("long").alias("n_types"),
            F.round(
                (F.col("r") + 1) * F.coalesce(F.col("n_r1"), F.lit(0.0))
                / F.col("n_r"),
                6,
            ).alias("gt_count"),
            F.round(F.col("r") * F.col("n_r") / F.col("n_tokens"), 6).alias(
                "mle_mass"
            ),
        )
    )


@query(
    "text_ngram_novelty",
    f"""
    WITH grams AS (
        SELECT doc_id, (doc_id % 10) = 7 AS holdout,
               unnest(list_transform(
                   range(1, len({_BP_TOKS}) - 1),
                   i -> {_BP_TOKS}[i] || ' ' || {_BP_TOKS}[i+1] || ' '
                        || {_BP_TOKS}[i+2])) AS gram
        FROM documents
        WHERE len({_BP_TOKS}) >= 3
    ),
    train AS (SELECT DISTINCT gram FROM grams WHERE NOT holdout),
    held AS (
        SELECT doc_id, gram,
               CASE WHEN t.gram IS NULL THEN 1 ELSE 0 END AS novel
        FROM (SELECT doc_id, gram FROM grams WHERE holdout) h
        LEFT JOIN train t USING (gram)
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(novel) AS BIGINT) AS novel_grams,
           ROUND(SUM(novel) * 1.0 / COUNT(*), 6) AS novelty_rate
    FROM held GROUP BY doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram novelty rate of the holdout split (doc_id % 10 == 7)
    against the training split's trigram set — the memorization /
    contamination readout for eval construction: a holdout doc whose
    trigrams all appear in training is not testing generalization
    (complements `text_decontaminate`, which matches eval N-grams
    exactly; novelty measures the DEGREE). The training set collapses
    to distinct trigrams (one shuffle), the probe is a left join on the
    trigram key — hash-partitioned both sides, no broadcast assumption,
    so it survives a corpus where the training gram set dwarfs
    memory."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(X.normalized(F.col("text")), " "), lambda t: t != "")
    base = d.select(
        "doc_id", (F.col("doc_id") % 10 == 7).alias("holdout"), toks.alias("ts")
    ).filter(F.size("ts") >= 3)
    grams = base.select(
        "doc_id",
        "holdout",
        F.explode(_trigrams("ts")).alias("gram"),
    )
    train = grams.filter(~F.col("holdout")).select("gram").distinct()
    held = grams.filter(F.col("holdout")).select("doc_id", "gram")
    joined = held.join(
        train.withColumn("seen", F.lit(1)), "gram", "left"
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0)).alias(
            "novel_grams"
        ),
        F.round(
            F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("novelty_rate"),
    )


@query(
    "text_term_burstiness",
    f"""
    WITH per_doc AS (
        SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS c
        FROM (SELECT doc_id, unnest({_BP_TOKS}) AS token FROM documents)
        GROUP BY doc_id, token
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    stats AS (
        SELECT token, CAST(COUNT(*) AS DOUBLE) AS df,
               SUM(c) AS cf, SUM(c * c) AS c2
        FROM per_doc GROUP BY token
    )
    SELECT token, CAST(df AS BIGINT) AS doc_freq,
           CAST(cf AS BIGINT) AS coll_freq,
           ROUND(cf / df, 6) AS burstiness,
           ROUND((c2 / n.n_docs - (cf / n.n_docs) * (cf / n.n_docs))
                 / (cf / n.n_docs), 6) AS vmr
    FROM stats, n
    WHERE df >= 5
    """,
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale term burstiness: for every term with doc-freq >= 5,
    the mean occurrences per CONTAINING doc (cf/df — content words
    cluster, function words don't) and the variance-to-mean ratio over
    ALL docs (VMR > 1 = overdispersed vs Poisson) — the
    topicality/keyword signal that separates bursty content terms from
    uniform glue even when raw frequency (`text_vocab_topk`) ties them.
    One corpus aggregate to (doc, term) counts, one collapse to the
    Zipf-bounded vocab; zero-occurrence docs enter the VMR through the
    closed form E[x²]−μ² (never materialized)."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = (
        d.select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(X.normalized(F.col("text")), " "),
                    lambda t: t != "",
                )
            ).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    stats = per_doc.groupBy("token").agg(
        F.count(F.lit(1)).cast("double").alias("df"),
        F.sum("c").alias("cf"),
        F.sum(F.col("c") * F.col("c")).alias("c2"),
    )
    mean = F.col("cf") / F.col("n_docs")
    return (
        stats.filter(F.col("df") >= 5)
        .crossJoin(F.broadcast(n))
        .select(
            "token",
            F.col("df").cast("long").alias("doc_freq"),
            F.col("cf").cast("long").alias("coll_freq"),
            F.round(F.col("cf") / F.col("df"), 6).alias("burstiness"),
            F.round(
                (F.col("c2") / F.col("n_docs") - mean * mean) / mean, 6
            ).alias("vmr"),
        )
    )
