"""Text-analysis operators over document tables (north star).

All hot paths are built-in ``pyspark.sql.functions`` (JVM-side, codegen):
tokenization is a regex extract, quality scoring is column arithmetic,
fingerprinting is md5 over a normalized projection. Nothing here drops to
Python per-row; at 100 TB these are embarrassingly parallel map stages
with zero shuffles.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hudi_utility_spark.ops import lits, phash

from hudi_utility_spark.ops import widen_for_compute

# BPE-ish word/number/punct segmentation: letters runs, digit runs, or a
# single non-alnum non-space symbol — a deterministic stand-in for a real
# subword tokenizer at identical plumbing cost.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# tiny per-language stopword lists for the n-gram/stopword language
# heuristic; real deployments would swap in fastText-style models via the
# same mapInPandas plumbing (ops/multimodal.py shows the batch shape).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "los"),
    "fr": ("le", "la", "et", "les", "des", "une"),
    "de": ("der", "die", "und", "das", "ist", "ein"),
    "zh": ("de5", "shi4", "le5"),  # romanized placeholders
}

_STOPWORDS = (
    "the a an and or of to in is are was were be been it this that "
    "for on with as by at from"
).split()


def normalized(col: Column) -> Column:
    """Lowercase, strip punctuation, collapse whitespace — the canonical
    form used by exact dedup and fingerprinting."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def tokens(col: Column) -> Column:
    """Array of tokens under TOKEN_PATTERN (regexp_extract_all, JVM-side)."""
    return F.regexp_extract_all(col, F.lit(TOKEN_PATTERN), F.lit(0))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def whitespace_token_count(col: Column) -> Column:
    return F.size(F.split(F.trim(col), r"\s+"))


def word_set(col: Column) -> Column:
    """Distinct lowercase words — the unigram shingle set for Jaccard."""
    return F.array_distinct(F.split(normalized(col), " "))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring profile: lengths, token counts, ratios.

    Mirrors what a pretraining-data quality filter computes per document;
    every column is a codegen'd expression over one pass of the text.
    """
    c = F.col(text_col)
    words = F.split(F.trim(c), r"\s+")
    stop_arr = lits.array_string(list(_STOPWORDS))
    stop_hits = F.size(F.array_intersect(F.transform(words, F.lower), stop_arr))
    return df.select(
        "*",
        F.length(c).alias("n_chars_computed"),
        F.size(words).alias("n_words"),
        token_count(c).alias("n_tokens"),
        F.round(
            F.length(F.regexp_replace(c, r"[a-zA-Z0-9\s]", ""))
            / F.greatest(F.length(c), F.lit(1)),
            6,
        ).alias("punct_ratio"),
        F.round(
            (F.length(c) - F.length(F.regexp_replace(c, r"\s", "")))
            / F.greatest(F.length(c), F.lit(1)),
            6,
        ).alias("space_ratio"),
        F.round(stop_hits / F.greatest(F.size(words), F.lit(1)), 6).alias(
            "stopword_ratio"
        ),
        F.round(
            (F.length(c) - (F.size(words) - 1)) / F.greatest(F.size(words), F.lit(1)),
            6,
        ).alias("avg_word_len"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite [0,1] quality score from the stats profile — the shape of
    a C4/Gopher-style heuristic filter."""
    stats = with_text_stats(df, text_col)
    score = (
        F.when(F.col("n_words") < 5, 0.0)
        .when(F.col("punct_ratio") > 0.3, 0.2)
        .otherwise(
            F.least(
                F.lit(1.0),
                F.round(
                    0.4 * F.least(F.col("n_words") / 100.0, F.lit(1.0))
                    + 0.3 * (1 - F.col("punct_ratio"))
                    + 0.3 * F.least(F.col("stopword_ratio") * 4, F.lit(1.0)),
                    6,
                ),
            )
        )
    )
    return stats.withColumn("quality", F.round(score, 6))


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-marker language heuristic: score each candidate language
    by marker-word hits, pick the argmax (ties → 'und').

    A real n-gram model plugs into the same column shape; the point is the
    plumbing — one map stage, no shuffle, no UDF.
    """
    words = F.transform(F.split(F.trim(F.col(text_col)), r"\s+"), F.lower)
    scores = [
        F.struct(
            F.size(
                F.array_intersect(words, F.array(*[F.lit(m) for m in markers]))
            ).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in LANG_MARKERS.items()
    ]
    best = F.array_max(F.array(*scores))
    return df.withColumn(
        "lang_pred",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 of the normalized text.

    The content-addressed identity used by exact dedup; md5 is available
    in every engine (oracle-checkable), and at 100 TB the fingerprint is
    the shuffle key that replaces shipping full documents around.
    """
    return df.withColumn("fingerprint", F.md5(normalized(F.col(text_col))))


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap_tokens: int = 16,
) -> DataFrame:
    """Split documents into token-bounded, overlapping chunks — the step
    between cleaned documents and fixed-length training samples.

    Whitespace tokens; windows of ``chunk_tokens`` starting every
    ``chunk_tokens - overlap_tokens`` tokens, so consecutive chunks share
    ``overlap_tokens`` (context continuity at chunk boundaries). Returns
    (id, chunk_idx, chunk_text, n_tokens).

    Entirely JVM-side: regexp token array → sequence of window starts →
    transform+slice → posexplode. O(tokens/step) output rows per doc, no
    shuffle, no Python — at 100 TB this is a pure map stage whose output
    feeds repartition-to-file-size for the training-data write.
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be smaller than chunk_tokens")
    step = chunk_tokens - overlap_tokens
    toks = F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), F.lit(0))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(step)
    )
    chunks = F.transform(
        starts, lambda s: F.slice(toks, s + 1, chunk_tokens)
    )
    return (
        df.select(F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk"))
        .filter(F.size("chunk") > 0)
        .select(
            id_col,
            "chunk_idx",
            F.array_join("chunk", " ").alias("chunk_text"),
            F.size("chunk").alias("n_tokens"),
        )
    )


# PII patterns kept Java/RE2-compatible (same semantics in Spark and
# DuckDB): email, dotted-quad IP, international-ish phone runs.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d().-]{7,}\d", "<PHONE>"),
)


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace emails / IPs / phone-number runs with typed placeholders —
    the standard pretraining-corpus scrub (C4/RefinedWeb-style).

    Chained ``regexp_replace`` plus per-type match counts, all JVM-side:
    a pure map stage at any corpus size. Counts are *sequential* — each
    rule counts matches on the text AFTER earlier rules ran, so they
    report exactly what that rule redacted (an IP inside an
    already-redacted email is not double-counted, and the loose phone
    run never re-counts a dotted quad the IP rule consumed). Real
    deployments extend PII_PATTERNS; the order-sensitive chain is what
    this operator pins down.
    """
    names = ("emails", "ips", "phones")
    red = F.col(text_col)
    cols = []
    for (pat, repl), name in zip(PII_PATTERNS, names):
        cols.append(
            F.size(F.regexp_extract_all(red, F.lit(pat), F.lit(0))).alias(f"n_{name}")
        )
        red = F.regexp_replace(red, pat, repl)
    return df.select("*", *cols, red.alias(f"{text_col}_redacted"))


def word_ngrams(col: Column, n: int = 5) -> Column:
    """Array of lowercase word n-grams (space-joined) — the shingle unit
    for benchmark decontamination. transform+slice over the token array;
    O(tokens) output, no Python."""
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    starts = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)), F.lit(1))
    return F.filter(
        F.transform(starts, lambda s: F.array_join(F.slice(toks, s + 1, n), " ")),
        lambda g: F.size(F.split(g, " ")) >= n,
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``n``-gram with the benchmark corpus (the standard eval-leak
    guard applied before pretraining).

    Returns (id, contaminated). The benchmark's distinct n-gram set is
    broadcast — eval suites are tiny next to the corpus. The corpus side
    is a map stage + one semi-join; no pair explosion.
    """
    df = widen_for_compute(df)  # compute-bound: scan width != CPU width
    grams = df.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("gram")
    )
    bench = F.broadcast(
        benchmark.select(
            F.explode(word_ngrams(F.col(text_col), n)).alias("gram")
        ).distinct()
    )
    flagged = grams.join(bench, "gram", "left_semi").select(id_col).distinct()
    return (
        df.select(id_col)
        .join(flagged.withColumn("contaminated", F.lit(True)), id_col, "left")
        .select(
            id_col, F.coalesce("contaminated", F.lit(False)).alias("contaminated")
        )
    )


def unigram_logprob_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 1000,
    alpha: float = 1.0,
) -> DataFrame:
    """Perplexity-proxy quality scoring: fit an add-α unigram language
    model on the corpus itself (top ``vocab_size`` tokens + an OOV
    bucket), then score each document by its mean token negative
    log-probability — the cheap stand-in for the KenLM-perplexity
    filters pretraining pipelines use (CCNet, Gopher): gibberish and
    boilerplate-rare-token spam score high, fluent corpus-typical text
    scores low.

    Plan: token counts (one hash-agg shuffle), top-V vocab via
    TakeOrdered (driver-sized: V log-probs), broadcast-joined back onto
    the exploded tokens (OOV coalesces to the smoothed zero-count mass),
    one per-doc aggregate. At 100 TB the model is V+1 scalars and the
    corpus pays exactly two keyed exchanges."""
    df = widen_for_compute(df)  # compute-bound: scan width != CPU width
    toks = df.select(
        F.col(id_col), F.explode(F.split(normalized(F.col(text_col)), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    # One fit pass: the unigram relation is persisted for its two
    # consumers (the (N, |V|) scalars and the top-V vocab — the second
    # collect reads the cache), and the V-row model is folded into the
    # scoring plan as a literal map (codebook idiom): the score pass
    # becomes a single join-free corpus scan instead of re-aggregating
    # the token counts under a broadcast join. Integer counts go into
    # the map; the log-prob arithmetic stays a Spark expression.
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).persist()
    try:
        n_total = counts.agg(
            F.sum("c").alias("n"), F.count(F.lit(1)).alias("v_all")
        ).collect()[0]
        vocab_rows = (
            counts.orderBy(F.desc("c"), F.asc("tok")).limit(vocab_size).collect()
        )
    finally:
        counts.unpersist()
    # add-α over the top-V vocab + one OOV bucket: denominator uses the
    # effective vocab (min(V, distinct)+1) so probabilities stay proper
    v_eff = min(vocab_size, n_total["v_all"] or 0) + 1
    denom = float(n_total["n"] or 0) + alpha * v_eff
    c_map = lits.map_string_long({r["tok"]: int(r["c"]) for r in vocab_rows})
    c_tok = F.try_element_at(c_map, F.col("tok"))
    logp = F.log((c_tok + F.lit(alpha)) / F.lit(denom))
    import math

    oov = math.log(alpha / denom)
    scored = toks.groupBy(id_col).agg(
        F.round(-F.avg(F.coalesce(logp, F.lit(oov))), 6).alias(
            "avg_neg_logprob"
        ),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(c_tok.isNull().cast("long")).alias("n_oov"),
    )
    return scored


def flag_hot_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicate-span detection — the n-gram
    approximation of substring-level dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): an
    ``n``-gram occurring in ≥ ``min_docs`` distinct documents is *hot*;
    each document reports its distinct-gram count, how many are hot,
    and the hot fraction — the signal used to cut boilerplate spans and
    templated near-copies that whole-document dedup misses.

    Plan at scale: per-doc distinct grams (map-only HOF + one
    (doc, gram) shuffle), then gram document-frequency as a COUNT window
    partitioned by gram — one gram-keyed shuffle annotates every
    (doc, gram) row with its df in place, where the groupBy+join
    formulation re-shuffles the full gram relation a second time for
    the join (the aggregate's output partitioning, by gram, doesn't
    match the (doc, gram)-hashed left side). Then one per-doc
    aggregate — every stage keyed, no pair explosion, no collect.
    Documents shorter than ``n`` tokens produce no grams and drop
    out (mirrored by the oracle's inner join)."""
    df = widen_for_compute(df)  # compute-bound: scan width != CPU width
    grams = df.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("gram")
    ).distinct()
    w = Window.partitionBy("gram")
    return (
        grams.withColumn("df", F.count(F.lit(1)).over(w))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("df") >= min_docs).cast("long")).alias("n_hot"),
        )
        .select(
            id_col,
            "n_grams",
            "n_hot",
            F.round(F.col("n_hot") / F.col("n_grams"), 6).alias("hot_frac"),
        )
    )


def repetition_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of all
    word ``n``-grams claimed by the single most repeated one
    (``top_ngram_frac``) and the distinct/total n-gram ratio
    (``distinct_ngram_ratio``). High top-fraction / low distinct-ratio
    marks boilerplate and template spam — a standard pretraining quality
    filter (Rae et al., Gopher §A1.3).

    One shuffle on (doc, gram-hash) then a per-doc aggregate — but the
    exchange carries 8-byte ``xxhash64`` gram identities, not gram
    strings: the hash runs in the codegen'd projection right after the
    explode and the ~50-byte gram string never leaves the map side
    (an intra-document 64-bit collision, the only way counts could
    shift, is ~1e-13 per doc). A zero-shuffle variant that folds over
    the doc's own sorted gram array was tried and is ~2× SLOWER:
    higher-order-function lambdas evaluate interpreted, so a per-row
    O(n log n) string sort costs more than a well-keyed long shuffle —
    the same measurement winnowing_fingerprints documents. Documents
    shorter than ``n`` tokens produce no grams and drop out.
    """
    df = widen_for_compute(df)  # compute-bound: scan width != CPU width
    grams = df.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("gram")
    ).select(id_col, F.xxhash64("gram").alias("g"))
    per = grams.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("c"))
    return (
        per.groupBy(id_col)
        .agg(
            F.max("c").alias("top_cnt"),
            F.sum("c").alias("total"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
        .select(
            id_col,
            F.round(F.col("top_cnt") / F.col("total"), 6).alias("top_ngram_frac"),
            F.round(F.col("n_distinct") / F.col("total"), 6).alias(
                "distinct_ngram_ratio"
            ),
        )
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every word ``k``-gram, slide a
    ``window`` over the hash sequence, keep each window's minimum; the
    distinct minima are the document's fingerprint set. Guarantees any
    shared run of ≥ window+k-1 words between two documents shares a
    fingerprint — the local-similarity detector that whole-document
    md5 (`fingerprint`) cannot provide.

    Hashes are the portable md5 family (`ops/phash.py`) rather than a
    literal Rabin-Karp rolling hash — winnowing is defined over any
    k-gram hash, rolling is only a constant-factor optimization, and
    portability buys a full DuckDB oracle.

    Shape: grams are exploded and hashed in a NORMAL projection (md5
    runs inside whole-stage codegen), then regrouped into an ordered
    hash array for the window-minima pass — only long arithmetic
    remains in interpreted HOF territory. A first cut hashed inside the
    ``transform`` lambda instead: higher-order lambdas evaluate
    interpreted, and per-gram digests there ran ~40× slower than this
    one-shuffle formulation (27.6 s → 0.7 s at sf0.01). Same trade the
    repetition profile documents: a well-keyed shuffle beats
    interpreted per-element work.
    """
    df = widen_for_compute(df)  # compute-bound: scan width != CPU width
    grams = df.select(
        F.col(id_col), F.posexplode(word_ngrams(F.col(text_col), k)).alias("pos", "g")
    )
    hashed = grams.select(
        id_col, "pos", phash.hash64(F.col("g")).alias("h")
    )
    per_doc = hashed.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "h"))), lambda s: s["h"]
        ).alias("gh")
    )
    gh = F.col("gh")
    starts = F.sequence(F.lit(0), F.greatest(F.size(gh) - window, F.lit(0)))
    wins = F.transform(starts, lambda i: F.array_min(F.slice(gh, i + 1, window)))
    return (
        per_doc.select(
            F.col(id_col),
            F.explode(F.array_distinct(wins)).alias("fingerprint"),
        )
        .filter(F.col("fingerprint").isNotNull())
    )


def feature_hash_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dims: int = 1024,
) -> DataFrame:
    """Hashed-linear-classifier scoring (the fastText / hashing-trick
    shape, Weinberger et al. 2009): each token maps to a weight bucket
    by portable hash; a document's score is the sigmoid of its mean
    bucket weight. The weight table here is DETERMINISTICALLY DERIVED
    (md5 of the bucket id → uniform [-1, 1]) — a stand-in model that
    keeps the full scoring pipeline value-hash-checkable; a production
    deployment broadcasts trained weights through the identical plan
    (a D-float literal or tiny broadcast join).

    Plan: explode tokens, two codegen md5 derivations per token
    (bucket, then weight-of-bucket), one per-doc aggregate — a single
    keyed exchange regardless of corpus size; no model state beyond the
    D scalars."""
    df = widen_for_compute(df)  # compute-bound: scan width != CPU width
    toks = df.select(
        F.col(id_col), F.explode(F.split(normalized(F.col(text_col)), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    hi, lo = phash.parts(F.col("tok"))
    bucket = phash.family_hash(hi, lo, 0) % F.lit(dims)
    whi, wlo = phash.parts(F.concat(F.lit("fhw:"), bucket.cast("string")))
    weight = phash.family_hash(whi, wlo, 1) / F.lit(float(phash.P31)) * 2.0 - 1.0
    return (
        toks.select(F.col(id_col), weight.alias("w"))
        .groupBy(id_col)
        .agg(
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.avg("w"))), 6).alias("score"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


def dedup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 15,
) -> DataFrame:
    """Cross-document duplicated-span removal with reassembly — the
    block-granular form of exact substring dedup (the Lee et al.
    "Deduplicating Training Data" recipe, at fixed word-window
    granularity instead of suffix-array granularity, which keeps it
    expressible as two shuffles).

    Documents are cut into non-overlapping ``span_tokens``-word spans;
    a span whose text occurs anywhere else in the corpus survives only
    at its first occurrence (smallest ``(id, span index)``); each
    document is rebuilt from its surviving spans in order. Returns
    ``(id, n_spans, n_kept, rebuilt)`` — documents whose every span was
    seen earlier rebuild to the empty string (drop or quarantine
    downstream).

    Two shuffles at any scale: one keyed by the span fingerprint (the
    first-occurrence window — value rows carry the span text exactly
    once), one keyed by the document id (ordered reassembly via
    collect+sort of that document's own spans, state bounded by
    document length). No all-pairs stage anywhere.
    """
    df = widen_for_compute(df)  # compute-bound: scan width != CPU width
    from hudi_utility_spark.ops.phash import md5_hex

    spans = chunk_documents(
        df, id_col, text_col, chunk_tokens=span_tokens, overlap_tokens=0
    )
    w = Window.partitionBy(md5_hex(F.col("chunk_text"))).orderBy(
        id_col, "chunk_idx"
    )
    flagged = spans.withColumn("_rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("_rn") == 1, F.struct("chunk_idx", "chunk_text")
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("_rn") == 1).cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.chunk_text,
                ),
                " ",
            ).alias("rebuilt"),
        )
    )


def source_overlap_matrix(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Cross-source n-gram overlap matrix — the corpus-composition
    diagnostic behind dedup planning ("how much of source B is already
    in source A before we mix them"). Per source, the DISTINCT set of
    word n-grams; per source pair (a < b), the intersection size and
    the containment ratios |A∩B|/|A| and |A∩B|/|B|.

    Scale shape: explode to (gram, source), distinct (one gram-keyed
    shuffle — the gram space is the data size, sources are a handful),
    then a gram-keyed self-join whose per-gram fan-out is bounded by
    the SOURCE count (≤ sources² pairs per gram), never by corpus size
    — the same bucketed-join discipline as every dedup operator. The
    per-source distinct totals ride the same relation; output is
    O(sources²) rows.
    """
    df = widen_for_compute(df)  # compute-bound: scan width != CPU width
    # One gram-keyed shuffle instead of three: collect_set folds the
    # (gram, src) distinct AND the per-gram source grouping into a
    # single aggregate (partial aggregation dedups map-side), and the
    # per-gram source pairs come from an index HOF over the sorted set
    # — bounded by sources² per gram, exactly the fan-out the old
    # gram-keyed self-join paid two more full exchanges to reach.
    # array_sort's UTF8 ordering matches the old `a.src < b.src`.
    gs = (
        df.select(
            F.col(source_col).alias("src"),
            F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
        )
        .groupBy("gram")
        .agg(F.collect_set("src").alias("ss"))
        .persist()
    )
    totals = (
        gs.select(F.explode("ss").alias("src"))
        .groupBy("src")
        .agg(F.count("*").alias("n_grams"))
    )
    srt = F.array_sort(F.col("ss"))
    pair_structs = F.flatten(
        F.transform(
            srt,
            lambda x, i: F.transform(
                F.slice(
                    srt,
                    i + F.lit(2),
                    F.greatest(F.size(srt) - i - 1, F.lit(0)),
                ),
                lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
            ),
        )
    )
    inter = (
        gs.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count("*").alias("n_common"))
    )
    ta = totals.select(F.col("src").alias("src_a"), F.col("n_grams").alias("grams_a"))
    tb = totals.select(F.col("src").alias("src_b"), F.col("n_grams").alias("grams_b"))
    return (
        inter.join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(F.col("n_common") / F.col("grams_a"), 6).alias("containment_a"),
            F.round(F.col("n_common") / F.col("grams_b"), 6).alias("containment_b"),
        )
    )


def dsir_importance_weights(
    df: DataFrame,
    target_cond: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    dims: int = 256,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): estimate hashed-n-gram
    bag distributions for the TARGET subset (rows where *target_cond*)
    and the RAW corpus, add-α smoothed over ``dims`` buckets, and score
    every document by its importance log-weight
    ``log w(x) = Σ_tokens [ln p_target(b(tok)) − ln p_raw(b(tok))]`` —
    the principled replacement for hand-tuned quality filters when you
    have an exemplar of what you want more of (wiki/books/eval-domain
    text) and a huge raw crawl to select from.

    Plan at scale: one token explode (codegen md5 bucket hash), ONE
    bucket-keyed aggregate producing the `dims`-row model (two counters
    per bucket via conditional sum — target pass and raw pass share the
    scan), model broadcast back onto the token stream, one per-doc
    aggregate. The model is `dims` scalars regardless of corpus size;
    the corpus pays two keyed exchanges, same shape as
    `unigram_logprob_score`. All arithmetic is fixed-order double math
    on integer counts — oracle-replayable."""
    df = widen_for_compute(df)  # compute-bound: scan width != CPU width
    toks = df.select(
        F.col(id_col),
        target_cond.cast("long").alias("_tgt"),
        F.explode(F.split(normalized(F.col(text_col)), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    hi, lo = phash.parts(F.col("tok"))
    bt = toks.select(
        id_col, "_tgt", (phash.family_hash(hi, lo, 0) % F.lit(dims)).alias("bucket")
    )
    # The model is `dims` rows of integer counters — collect it once
    # (the centroid/codebook idiom) so the fit pass runs the corpus
    # exactly ONCE, and the totals become exact integer literals: no
    # 1-row crossJoin (BNLJ) in the plan, and nothing persisted. The
    # log-ratio itself stays a Spark expression (same ln as the SQL
    # oracle). The score pass below is the inherent second corpus scan
    # of any fit-then-score operator.
    count_rows = (
        bt.groupBy("bucket")
        .agg(F.sum("_tgt").alias("ct"), F.count(F.lit(1)).alias("cs"))
        .collect()
    )
    nt = sum(r["ct"] for r in count_rows)
    ns = sum(r["cs"] for r in count_rows)
    ad = float(alpha * dims)
    # Fold the dims-row model into the plan as two bucket-indexed
    # integer array literals (element_at(arr, bucket+1)) instead of a
    # createDataFrame + broadcast join: the score pass becomes a
    # join-free scan+aggregate. The log-ratio stays the same Spark
    # expression over the same integer counts, so per-row values are
    # bit-identical to the joined form.
    ct_by_bucket = [0] * dims
    cs_by_bucket = [0] * dims
    for r in count_rows:
        ct_by_bucket[int(r["bucket"])] = int(r["ct"])
        cs_by_bucket[int(r["bucket"])] = int(r["cs"])
    ct_arr = F.expr(
        "array(" + ",".join(f"{v}L" for v in ct_by_bucket) + ")"
    )
    cs_arr = F.expr(
        "array(" + ",".join(f"{v}L" for v in cs_by_bucket) + ")"
    )
    idx = (F.col("bucket") + F.lit(1)).cast("int")
    lr = (
        F.log((F.element_at(ct_arr, idx) + F.lit(alpha)) / F.lit(float(nt) + ad))
        - F.log((F.element_at(cs_arr, idx) + F.lit(alpha)) / F.lit(float(ns) + ad))
    )
    return bt.groupBy(id_col).agg(
        F.round(F.sum(lr), 6).alias("log_weight"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


def dsir_select(
    df: DataFrame,
    target_cond: Column,
    k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
    dims: int = 256,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR's selection step: Gumbel-top-k over the importance
    log-weights — sampling WITHOUT replacement with inclusion
    probability ∝ w(x), executed as one deterministic TakeOrdered
    (perturb each log-weight with a Gumbel variate, keep the k
    largest; Vieira 2014). The Gumbel uniform comes from the portable
    md5 formula over the document id, so selection is reproducible
    across engines and runs — no RNG state, no seed plumbing — and
    top-k is TakeOrderedAndProject: driver holds k rows, never a
    global sort."""
    w = dsir_importance_weights(
        df, target_cond, id_col=id_col, text_col=text_col, dims=dims, alpha=alpha
    )
    u = phash.uniform(F.col(id_col).cast("string"))
    gumbel = -F.log(-F.log(u))
    return (
        w.withColumn("sel_key", F.round(F.col("log_weight") + gumbel, 6))
        .orderBy(F.desc("sel_key"), F.asc(id_col))
        .limit(k)
        .select(id_col, "log_weight", "n_tokens", "sel_key")
    )


def char_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document character-level Shannon entropy (bits/char) — the
    compression-ratio-style quality signal: near-zero for repeated-char
    spam, low for boilerplate/templated text, ~4.1 for fluent English,
    high for base64/binary junk — used alongside the perplexity proxy
    as a cheap gibberish gate.

    Single-pass identity: ``H = log2(n) − (Σ c·log2 c)/n`` over the
    per-character counts, so one (doc, char) count aggregate feeds one
    per-doc aggregate — two keyed exchanges, rows bounded by doc ×
    alphabet (≤ a few hundred per doc), no per-char double pass.
    Empty docs are dropped (entropy undefined)."""
    df = widen_for_compute(df)  # compute-bound: scan width != CPU width
    chars = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    counts = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_chars"),
            F.sum(F.col("c") * F.log2("c")).alias("_s"),
        )
        .select(
            id_col,
            "n_chars",
            F.round(
                F.log2("n_chars") - F.col("_s") / F.col("n_chars"), 6
            ).alias("entropy_bits"),
        )
    )


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 4,
    vocab_cap: int = 200,
) -> DataFrame:
    """Learn byte-pair-encoding merges from the corpus, distributed.

    Classic BPE training (Sennrich et al. 2016), shaped for Spark: the
    corpus collapses to a (word, count) vocabulary first — one shuffle,
    and the Zipf ceiling means the vocab relation is tiny next to the
    corpus — then every merge round is ONE keyed aggregate over
    adjacent symbol pairs (weighted by word count) plus a single-row
    collect of the winning pair (the centroid idiom: a scalar crosses
    the driver, never data). The merge is applied as a literal string
    replace on the space-joined symbol state, so each round is a
    map-only expression over the bounded vocab relation.

    Two deliberate bounds, both knobs:
    - ``vocab_cap`` keeps training on the top-N words (count-desc,
      word-asc ties) — at 100 TB the cap is raised or dropped; cost
      scales with VOCAB size, not corpus size, after the first pass.
    - The pair replace runs twice per round (left-to-right
      non-overlapping string replace both engines share); runs of 5+
      repeated identical symbols in one word could need more passes —
      vanishingly rare in natural text and identical on both engines
      either way.

    Returns (merge_rank, pair, pcnt): the learned merge table.
    """
    words = (
        df.select(
            F.explode(
                F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(vocab_cap)
    )
    # The vocab relation is ≤ vocab_cap rows BY CONSTRUCTION (the limit
    # above), i.e. already driver-sized like a PQ codebook — so the
    # merge rounds run on the collected rows in plain Python instead of
    # n_merges×2 tiny Spark jobs over a 200-row cached relation (each
    # round cost a full job-scheduling + codegen tax; the corpus is
    # only ever scanned once, in the word-count pass above). Semantics
    # are mirrored exactly: adjacent-pair counts weighted by word count,
    # (pcnt desc, a asc, b asc) tie-break (ASCII symbols, so Python and
    # UTF8 binary ordering agree), and the same padded left-to-right
    # non-overlapping double replace both engines share.
    vocab = [
        (" ".join(r["word"]), int(r["cnt"])) for r in words.collect()
    ]
    merges: list[tuple[int, str, int]] = []
    for rank in range(1, n_merges + 1):
        pc: dict[tuple[str, str], int] = {}
        for state, cnt in vocab:
            toks = state.split(" ")
            for pr in zip(toks, toks[1:]):
                pc[pr] = pc.get(pr, 0) + cnt
        if not pc:
            break
        (a, b), pcnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, f"{a}+{b}", pcnt))
        pat, rep = f" {a} {b} ", f" {a}{b} "
        vocab = [
            (f" {s} ".replace(pat, rep).replace(pat, rep).strip(), c)
            for s, c in vocab
        ]
    return df.sparkSession.createDataFrame(
        merges, "merge_rank int, pair string, pcnt long"
    )


def boilerplate_vocab(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    ratio_num: int = 8,
    ratio_den: int = 10,
    min_docs: int = 5,
) -> DataFrame:
    """Per-source boilerplate discovery — the C4/CCNet "most common
    lines per domain" recipe at token granularity (the synthetic corpus
    has no line structure): a token is boilerplate for a source when it
    appears in at least ``ratio_num/ratio_den`` of that source's
    documents (integer-exact comparison ``ratio_den·df >= ratio_num·n``
    — no float threshold can disagree between engines) and the source
    has at least ``min_docs`` documents.

    Scale: one distinct over (group, token, id) + one (group, token)
    aggregate — two shuffles on exploded tokens; the result is
    vocabulary-sized (sources × flagged tokens), small enough to
    broadcast into :func:`strip_boilerplate` at any corpus size."""
    toks = df.select(
        F.col(group_col).alias("source"),
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(normalized(F.col(text_col)), " "),
                    lambda t: t != "",
                )
            )
        ).alias("token"),
    )
    # denominator = ALL docs of the source (an empty/no-token doc still
    # counts — C4 semantics), not just docs that produced token rows
    per_src = df.groupBy(F.col(group_col).alias("source")).agg(
        F.count_distinct(id_col).alias("n_docs")
    )
    # (doc, token) rows are unique BY CONSTRUCTION (array_distinct in
    # the explode above), so COUNT(*) equals COUNT(DISTINCT doc_id)
    # without the distinct-aggregate's per-group dedup buffers
    dfreq = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("df")
    )
    return (
        dfreq.join(F.broadcast(per_src), "source")
        .filter(
            (F.lit(ratio_den) * F.col("df") >= F.lit(ratio_num) * F.col("n_docs"))
            & (F.col("n_docs") >= min_docs)
        )
        .select("source", "token", "df", "n_docs")
    )


def strip_boilerplate(
    df: DataFrame,
    vocab: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove a source's boilerplate tokens from its documents and
    rebuild the cleaned text in original token order. ``vocab`` is the
    (source, token) relation from :func:`boilerplate_vocab` —
    vocabulary-sized, so it is broadcast and the removal join never
    shuffles the exploded corpus; the only shuffle is the doc-keyed
    rebuild aggregate. Token order is restored with an array_sort over
    (pos, token) structs — never collect_list order, which is not
    engine-portable."""
    toks = df.select(
        F.col(group_col).alias("source"),
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.filter(
                F.split(normalized(F.col(text_col)), " "),
                lambda t: t != "",
            )
        ).alias("pos", "token"),
    )
    kept = toks.join(
        F.broadcast(vocab.select("source", "token")),
        ["source", "token"],
        "left_anti",
    )
    rebuilt = kept.groupBy("doc_id", "source").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda s: s.token,
            ),
            " ",
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(
            F.filter(
                F.split(normalized(F.col(text_col)), " "), lambda t: t != ""
            )
        ).alias("n_tokens"),
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
        )
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned BPE merge table to the corpus — the encode half
    of :func:`bpe_train_merges`. ``merges`` is the (a, b) pair list in
    rank order (n_merges rows, a driver literal like PQ codebooks):
    each word explodes from its document, spells out as spaced
    characters, and every merge applies as the same padded
    double-replace literal expression the trainer used — a pure
    map-only codegen chain, no Python, no shuffle until the final
    doc-keyed count aggregate.

    Returns (doc_id, n_words, n_bpe_tokens): corpus tokenization stats
    under the learned vocabulary. At 100 TB the replace chain runs at
    scan bandwidth; the only exchange is the per-doc aggregate (and a
    dedup-to-vocabulary + broadcast-join variant drops even that work
    to vocab size if words repeat heavily)."""
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
        ).alias("word"),
    )
    state = F.trim(F.regexp_replace("word", "(.)", "$1 "))
    for a, b in merges:
        pat, rep = F.lit(f" {a} {b} "), F.lit(f" {a}{b} ")
        padded = F.concat(F.lit(" "), state, F.lit(" "))
        state = F.trim(F.replace(F.replace(padded, pat, rep), pat, rep))
    enc = words.select("doc_id", F.size(F.split(state, " ")).alias("n_toks"))
    per_doc = enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_toks").alias("n_bpe_tokens"),
    )
    ids = df.select(F.col(id_col).alias("doc_id"))
    return ids.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
        F.coalesce("n_bpe_tokens", F.lit(0)).cast("long").alias("n_bpe_tokens"),
    )


def _adjacent_pairs(df: DataFrame, id_col: str, arr) -> DataFrame:
    """(id, w1, w2) for every adjacent token pair of the *arr* array
    column: a map-only array zip, no self-join."""
    return df.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))).alias("w1"),
                F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))).alias("w2"),
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))


def _per_doc_bigram_scores(
    scored: DataFrame, ids: DataFrame, id_col: str
) -> DataFrame:
    """Per-doc (id, n_bigrams, n_model_hits, avg_neg_logprob) over
    scored (id, hit, neg_logp) bigrams, zero-filled for every id in
    *ids* without a bigram."""
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("hit").alias("n_model_hits"),
        F.round(F.avg("neg_logp"), 6).alias("avg_neg_logprob"),
    )
    return ids.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("n_model_hits", F.lit(0)).cast("long").alias("n_model_hits"),
        F.coalesce("avg_neg_logprob", F.lit(0.0)).alias("avg_neg_logprob"),
    )


def bigram_backoff_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bigrams: int = 2000,
    max_vocab: int = 5000,
    lam: float = 0.4,
) -> DataFrame:
    """Bigram language-model scoring with Stupid Backoff (Brants et al.
    2007 — the scheme invented FOR distributed LMs: no normalization
    pass, counts compose): S(w2|w1) = c(w1 w2)/c(w1) when the bigram is
    in the pruned model, else lam * c(w2)/N for in-vocabulary w2, else
    lam * 1/N (OOV floor — Stupid Backoff's own open-vocabulary
    semantics: an unseen word gets the count-1 floor, never a zero).
    Per-doc mean negative log-score is the fluency filter one notch
    above :func:`unigram_logprob_score` — word-salad that passes a
    unigram filter (common words, wrong order) scores high here.

    Model economics at 100 TB: BOTH model relations are pruned before
    broadcast — the bigram table to the top ``max_bigrams`` and the
    unigram vocabulary to the top ``max_vocab`` (count desc, key asc —
    deterministic); a web-scale corpus's unigram table is itself
    O(vocabulary) = hundreds of millions of rows, so broadcasting it
    unpruned is a driver OOM. c(w1) for the hit branch is folded INTO
    the pruned bigram table (exact counts, joined model-side where the
    relation is ≤ ``max_bigrams`` rows), so the corpus-side pass is one
    map-only bigram extraction (array zip of adjacent tokens, no
    self-join) against two bounded broadcasts plus the final doc-keyed
    mean. N is the only scalar collected."""
    df = widen_for_compute(df)
    arr = F.filter(F.split(normalized(F.col(text_col)), " "), lambda t: t != "")
    pairs = _adjacent_pairs(df, id_col, arr)

    toks = df.select(
        F.explode(arr).alias("tok")
    )
    unigrams = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).persist()
    # Both model relations are bounded BY CONSTRUCTION (top max_bigrams
    # / top max_vocab), i.e. codebook-sized — so collect them in the
    # fit phase and fold them into the scoring plan as literal maps:
    # the scoring pass becomes ONE map-only corpus scan with two
    # element_at lookups instead of two broadcast joins over three
    # corpus subtrees (guide §3: a bounded model belongs in the plan,
    # not in a join). The unigram relation is persisted for the fit's
    # three consumers (N, top-V, exact c(w1)) and unpersisted before
    # scoring; all collected values are integers, so the scoring
    # arithmetic below is unchanged double math.
    try:
        # The two fit scans (unigram counts, pruned bigram top-k) are
        # independent — submit the unigram materialization on a second
        # thread so they overlap, as the broadcast-subtree futures of
        # the join formulation used to (concurrent actions on one
        # session are supported; this is plain job-level parallelism).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(1) as _ex:
            _n_fut = _ex.submit(
                lambda: unigrams.agg(F.sum("c").alias("n")).collect()[0][0]
            )
            top_bg = (
                pairs.groupBy("w1", "w2")
                .agg(F.count(F.lit(1)).alias("cb"))
                .orderBy(F.desc("cb"), F.asc("w1"), F.asc("w2"))
                .limit(max_bigrams)
                .collect()
            )
            n_total = float(_n_fut.result() or 0)
        ids = df.select(id_col)
        if n_total == 0:
            # token-free corpus: SUM over the empty unigram table is
            # NULL — short-circuit rather than divide by the zero
            # normalizer
            return ids.select(
                id_col,
                F.lit(0).cast("long").alias("n_bigrams"),
                F.lit(0).cast("long").alias("n_model_hits"),
                F.lit(0.0).alias("avg_neg_logprob"),
            )
        w1_set = sorted({r["w1"] for r in top_bg})
        c_prev = (
            {
                r["tok"]: int(r["c"])
                for r in unigrams.filter(
                    lits.in_string_set("tok", w1_set)
                ).collect()
            }
            if w1_set
            else {}
        )
        top_uni = (
            unigrams.orderBy(F.desc("c"), F.asc("tok")).limit(max_vocab).collect()
        )
    finally:
        unigrams.unpersist()
    bg_map = lits.map_string_long_pair(
        {
            f"{r['w1']} {r['w2']}": (int(r["cb"]), c_prev[r["w1"]])
            for r in top_bg
        }
    )
    uni_map = lits.map_string_long({r["tok"]: int(r["c"]) for r in top_uni})
    # try_element_at: missing key → NULL (the left-join semantics the
    # maps replace); plain element_at raises under ANSI mode
    bgv = F.try_element_at(bg_map, F.concat_ws(" ", "w1", "w2"))
    c_w = F.try_element_at(uni_map, F.col("w2"))
    scored_pos = pairs.select(
        id_col,
        bgv.isNotNull().cast("long").alias("hit"),
        F.when(
            bgv.isNotNull(),
            -F.log(F.element_at(bgv, 1) / F.element_at(bgv, 2)),
        )
        .otherwise(
            -(
                F.log(F.lit(lam))
                + F.log(F.coalesce(c_w, F.lit(1)) / F.lit(n_total))
            )
        )
        .alias("neg_logp"),
    )
    return _per_doc_bigram_scores(scored_pos, ids, id_col)


def kneser_ney_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bigrams: int = 2000,
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; Chen
    & Goodman 1999's benchmark winner) — the third rung of the
    distributed-LM ladder here (unigram logprob → Stupid Backoff → KN):
    P(w2|w1) = (c(w1w2) - D)/c(w1) + D·N1+(w1,·)/c(w1) · Pcont(w2),
    where Pcont(w2) = N1+(·,w2)/N1+(··) is the CONTINUATION probability
    — "how many contexts does w2 follow" — the fix for words that are
    frequent only inside one collocation ("Francisco" scores low even
    though it's common, because it follows almost nothing but "San").

    Model economics at 100 TB (the `bigram_backoff_score` discipline):
    the model is the pruned top-``max_bigrams`` bigram table, and EVERY
    derived relation — exact c(w1) folded model-side, the forward
    fan-out N1+(w1,·), the continuation counts N1+(·,w2), the scalar
    N1+(··) — is computed FROM that bounded table, so every model
    relation is bounded by construction; they are collected in the fit
    phase and folded into the scoring plan as literal maps (guide §3: a
    bounded model belongs in the plan, not in a join), making the
    scoring pass ONE join-free corpus scan. Pruned-model caveat
    (standard): the discount mass redistributes over the pruned
    support, not the full vocabulary; unseen continuations take the
    0.5/N1+(··) floor. Fit side: the exact-c(w1) pass filters the
    unigram aggregate to the model's ≤``max_bigrams`` w1 keys (the
    predicate pushes below the aggregation, so only model-context
    tokens are aggregated at all — never the open vocabulary).

    Returns (id, n_bigrams, n_model_hits, avg_neg_logprob), zero-filled
    for bigram-free docs.
    """
    df = widen_for_compute(df)
    arr = F.filter(F.split(normalized(F.col(text_col)), " "), lambda t: t != "")
    pairs = _adjacent_pairs(df, id_col, arr)
    ids = df.select(id_col)

    top_bg = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb"))
        .orderBy(F.desc("cb"), F.asc("w1"), F.asc("w2"))
        .limit(max_bigrams)
        .collect()  # ≤ max_bigrams rows by construction — driver-sized
    )
    n_pairs = len(top_bg)
    if n_pairs == 0:
        return ids.select(
            id_col,
            F.lit(0).cast("long").alias("n_bigrams"),
            F.lit(0).cast("long").alias("n_model_hits"),
            F.lit(0.0).alias("avg_neg_logprob"),
        )
    floor = 0.5 / float(n_pairs)

    # derived model relations, computed from the ≤max_bigrams rows in
    # plain Python: forward fan-out N1+(w1,·) and continuation counts
    # N1+(·,w2) — the same integer counts the old groupBys produced
    n1_fwd: dict[str, int] = {}
    n1_back: dict[str, int] = {}
    for r in top_bg:
        n1_fwd[r["w1"]] = n1_fwd.get(r["w1"], 0) + 1
        n1_back[r["w2"]] = n1_back.get(r["w2"], 0) + 1
    # exact c(w1) for the model's contexts only: the key filter pushes
    # below the aggregation, so the fit pass counts just those tokens
    w1_set = sorted(n1_fwd)
    c_prev = {
        r["tok"]: int(r["c"])
        for r in df.select(F.explode(arr).alias("tok"))
        .filter(lits.in_string_set("tok", w1_set))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }

    # literal maps — the three broadcast joins become codegen'd
    # element_at lookups; the per-row double arithmetic below keeps the
    # exact expression shape (same divisions, same order) so values are
    # bit-identical to the join formulation
    bg_map = lits.map_string_long(
        {f"{r['w1']} {r['w2']}": int(r["cb"]) for r in top_bg}
    )
    w1_map = lits.map_string_long_pair(
        {w: (c_prev[w], n1_fwd[w]) for w in w1_set}
    )
    back_map = lits.map_string_long(n1_back)

    d = F.lit(float(discount))
    cbv = F.try_element_at(bg_map, F.concat_ws(" ", "w1", "w2"))
    w1v = F.try_element_at(w1_map, F.col("w1"))
    pc = F.coalesce(
        F.try_element_at(back_map, F.col("w2")) / F.lit(float(n_pairs)),
        F.lit(floor),
    )
    c_prev_c = F.element_at(w1v, 1)
    lam = d * F.element_at(w1v, 2) / c_prev_c
    p = (
        F.when(
            cbv.isNotNull(),
            (cbv - d) / c_prev_c + lam * pc,
        )
        .when(w1v.isNotNull(), lam * pc)
        .otherwise(pc)
    )
    scored = pairs.select(
        id_col,
        cbv.isNotNull().cast("long").alias("hit"),
        (-F.log(p)).alias("neg_logp"),
    )
    return _per_doc_bigram_scores(scored, ids, id_col)


def gopher_rules(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The Gopher document-quality rules (Rae et al. 2021, Appendix A
    — the published thresholds everybody's web-corpus filter is a
    variant of), as PER-RULE pass flags rather than a composite score:
    word count in [50, 100k], mean word length in [3, 10], symbol
    ('#'/'...') -to-word ratio <= 0.1, >= 80% of words containing an
    alphabetic character, <= 90% bullet-started lines, <= 30%
    ellipsis-ended lines, and >= 2 distinct Gopher must-have stopwords.
    The per-rule flags are what an ablation pipeline actually needs
    (`pipeline_filter_ablation` measures exactly this kind of rule).

    One map stage of codegen'd array/string expressions — no shuffle,
    no Python. Returns (id, 7 flag columns, passes).
    """
    t = F.trim(F.col(text_col))
    words = F.filter(F.split(t, r"\s+"), lambda w: w != "")
    wc = F.size(words)
    chars = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    mean_wl = chars / wc
    n_hash = (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))) / 1
    n_ell = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / 3
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))) / wc
    )
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda l: F.trim(l) != "")
    nl = F.size(lines)
    bullet_frac = (
        F.size(
            F.filter(
                lines,
                lambda l: F.trim(l).rlike(r"^[-*•]"),
            )
        )
        / nl
    )
    ell_line_frac = (
        F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"\.\.\.$"))) / nl
    )
    must_have = ["the", "be", "to", "of", "and", "that", "have", "with"]
    lower_words = F.transform(words, F.lower)
    n_stop = None
    for w in must_have:
        hit = F.array_contains(lower_words, w).cast("int")
        n_stop = hit if n_stop is None else n_stop + hit
    flags = {
        "f_word_count": (wc >= 50) & (wc <= 100_000),
        "f_mean_word_len": (wc > 0) & (mean_wl >= 3) & (mean_wl <= 10),
        "f_symbol_ratio": (wc > 0) & ((n_hash + n_ell) / wc <= 0.1),
        "f_alpha_words": (wc > 0) & (alpha_frac >= 0.8),
        "f_bullets": (nl == 0) | (bullet_frac <= 0.9),
        "f_ellipsis_lines": (nl == 0) | (ell_line_frac <= 0.3),
        "f_stopwords": n_stop >= 2,
    }
    out = df.select(
        F.col(id_col),
        *[v.cast("int").alias(k) for k, v in flags.items()],
    )
    passes = None
    for k in flags:
        c = F.col(k) == 1
        passes = c if passes is None else passes & c
    return out.withColumn("passes", passes.cast("int"))


def rake_keywords(
    df: DataFrame,
    k: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    Extraction from Individual Documents"): candidate phrases are the
    maximal runs of non-stopword tokens (stopwords/punctuation
    delimit), each word scores degree/frequency (degree = Σ lengths of
    phrases containing it — co-occurrence reach; frequency penalizes
    ubiquity), and a phrase scores the sum of its member words. The
    unsupervised keyword baseline corpus-curation pipelines use before
    anything learned.

    Distributed shape: tokenize via posexplode (map-only), phrase ids
    from a per-DOC cumulative-stopword window (partitioned by the
    high-cardinality doc key — never global), word stats in one hash
    aggregate, phrase scores by joining the (bounded, vocabulary-sized)
    word-stat relation back. Ranking is on ROUND(score, 6) with the
    phrase as tiebreak (scores are small-integer ratios; rounding
    absorbs sum-order ulp). Returns top-``k``
    (phrase, n_occurrences, score)."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(normalized(F.col(text_col)), " ")).alias(
            "pos", "w"
        ),
    ).filter(F.col("w") != "")
    stop_arr = lits.array_string(list(_STOPWORDS))
    flagged = toks.withColumn(
        "stop", F.array_contains(stop_arr, F.col("w")).cast("int")
    )
    wdoc = Window.partitionBy("doc").orderBy("pos")
    pid = flagged.withColumn(
        "phrase_id", F.sum("stop").over(wdoc)
    ).filter(F.col("stop") == 0)
    words = pid.withColumn(
        "plen",
        F.count(F.lit(1)).over(Window.partitionBy("doc", "phrase_id")),
    )
    wstats = words.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").alias("degree"),
    )
    inst = (
        words.join(F.broadcast(wstats), "w")
        .groupBy("doc", "phrase_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
            ).alias("phrase"),
            F.sum(
                F.col("degree").cast("double") / F.col("freq")
            ).alias("score"),
        )
    )
    return (
        inst.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.round(F.max("score"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("phrase"))
        .limit(k)
    )


def naive_bayes_langid(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
) -> DataFrame:
    """Multinomial Naive Bayes language identifier, trained and
    evaluated in ONE dataflow: an md5 half of the corpus trains
    per-(label, word) counts with Laplace smoothing, the held-out half
    scores log P(label) + Σ count(w)·ln((c_{l,w}+1)/(N_l+V)), and the
    output is the confusion matrix — the trainable-classifier upgrade
    of the stopword-marker `language_id` heuristic, and the template
    for every bag-of-words quality/domain classifier a curation
    pipeline runs (swap the label column, nothing else changes).

    Distributed shape: token counts are hash aggregates; the per-label
    model relation is vocabulary-sized and joins the test tokens on
    the word key (broadcast of the 5-row label stats, LEFT join for
    unseen words — they get pure smoothing mass); argmax ranks on
    ROUND(score, 4) with label tiebreak (round-before-rank: token
    log-sums differ in the last ulp across engines). Zero-token test
    docs get no prediction (no evidence, both engines agree)."""
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("doc"),
        F.col(label_col).alias("label"),
        F.split(normalized(F.col(text_col)), " ").alias("ws"),
        phash.md5_parity(F.col(id_col).cast("string")).alias("split"),
    )
    train = base.filter(F.col("split") == 0)
    test = base.filter(F.col("split") == 1)
    train_toks = train.select(
        "label", F.explode("ws").alias("w")
    ).filter(F.col("w") != "")
    # ONE training explode: the (label, w) count relation is persisted
    # and every other model statistic re-aggregates it — per-label
    # token totals are Σc over the counts (provably n_l), vocabulary
    # size is its distinct w — where the old plan re-exploded the train
    # half once per statistic (3 corpus passes; guide §1.2). Only
    # INTEGER counts are collected; the log/division arithmetic stays
    # the same Spark expression over literal integers, so per-row
    # doubles are bit-identical (the change-4 literal-model
    # discipline).
    counts = train_toks.groupBy("label", "w").agg(
        F.count(F.lit(1)).alias("c")
    ).persist()
    nl_rows = {
        r["label"]: r["n_l"]
        for r in counts.groupBy("label")
        .agg(F.sum("c").alias("n_l"))
        .collect()
    }
    n_model = counts.count()  # cache scan; the scoring-join gate
    v = counts.agg(F.count_distinct("w")).collect()[0][0]
    doc_rows = train.groupBy("label").agg(
        F.count(F.lit(1)).alias("nd")
    ).collect()
    tot_docs = sum(r["nd"] for r in doc_rows)
    # inner-join semantics of the old priors ⋈ nl: labels with zero
    # train tokens (or NULL labels, which a SQL equi-join drops) never
    # reach lang_stats
    stats_rows = [
        (r["label"], r["nd"], nl_rows[r["label"]])
        for r in doc_rows
        if r["label"] is not None and r["label"] in nl_rows
    ]
    # schema derived from the INPUT label column's native type (r12
    # ADVICE #3): a non-string label_col must round-trip unchanged so
    # the cand/true_lang comparison types match the all-Spark plan
    from pyspark.sql import types as _T

    _stats_schema = _T.StructType(
        [
            _T.StructField("label", df.schema[label_col].dataType, True),
            _T.StructField("nd", _T.LongType(), False),
            _T.StructField("n_l", _T.LongType(), False),
        ]
    )
    lang_stats = df.sparkSession.createDataFrame(
        stats_rows, _stats_schema
    ).select(
        "label",
        F.log(F.col("nd") / F.lit(float(tot_docs))).alias("prior"),
        (F.col("n_l") + F.lit(float(v)).cast("double")).alias("den"),
    )
    test_toks = test.select(
        "doc",
        F.col("label").alias("true_lang"),
        F.explode("ws").alias("w"),
    ).filter(F.col("w") != "")
    model = counts.select(F.col("label").alias("cand"), "w", "c")
    if n_model <= 20_000_000:
        # measured dispatch (the persisted counts' row count is known):
        # the vocabulary-sized model broadcasts and the test-token side
        # never shuffles for the scoring join (guide §3.1)
        model = F.broadcast(model)
    scored = (
        test_toks.crossJoin(
            F.broadcast(lang_stats.select(F.col("label").alias("cand"), "prior", "den"))
        )
        .join(model, ["cand", "w"], "left")
        .groupBy("doc", "true_lang", "cand")
        .agg(
            (
                F.max("prior")
                + F.sum(
                    F.log((F.coalesce(F.col("c"), F.lit(0)) + 1) / F.col("den"))
                )
            ).alias("score")
        )
    )
    w = Window.partitionBy("doc").orderBy(
        F.desc(F.round(F.col("score"), 4)), F.asc("cand")
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("true_lang", F.col("cand").alias("pred_lang"))
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )


def compression_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document DEFLATE compression ratio (compressed/raw bytes) —
    the classic cheap quality/repetition signal (CCNet, Gopher-era
    pipelines drop documents that compress too well: boilerplate, spam,
    and template farms all have low ratios; natural prose sits near
    ~0.4-0.6). zlib level 6 with a fixed strategy is byte-deterministic
    for a given input, so results are stable run-to-run — but no SQL
    engine exposes DEFLATE, so this is a DECLARED Arrow kernel (scalar
    pandas_udf, one zlib call per document per batch) under the
    rows-only driver check; tests/test_ops_stats_r9.py pins exact
    ratios against direct zlib. Map-only, scan-bandwidth at 100 TB.
    Empty documents get ratio NULL (0/0 is meaningless, not 'clean')."""
    import zlib

    @F.pandas_udf("double")
    def _ratio(texts: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return None
            return len(zlib.compress(raw, 6)) / len(raw)

        return texts.map(one)

    return df.select(
        F.col(id_col), F.round(_ratio(F.col(text_col)), 6).alias("ratio")
    )
