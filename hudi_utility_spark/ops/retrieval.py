"""Lexical retrieval over document tables: BM25 ranking and TF-IDF
keyword extraction (north star — the search/labeling half of a
training-data platform; the reference's query surface has no retrieval,
so this extends SURVEY §2 the same way dedup/similarity do).

Scale shape:

* **BM25** — the query's terms are a handful of literals, so per-doc
  term frequencies are codegen'd array expressions (no explode, no
  shuffle on the corpus); the only aggregates are the corpus scalars
  (N, avgdl) and per-term document frequencies — O(terms) rows,
  cross-joined back as a broadcast. Top-k is TakeOrdered. At 100 TB:
  one map pass + one tiny aggregate, same class as brute-force cosine.
* **TF-IDF top terms** — explode to (doc, term) then two keyed
  aggregates (term → df, doc → norm) and a per-doc ranking window. The
  window partitions by document — millions of small partitions, no
  global window.

Tokenization is `ops.text.normalized` + split — identical, engine-
portable semantics (the DuckDB oracles reproduce it with regexp_replace
+ string_split).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hudi_utility_spark.ops import lits

from hudi_utility_spark.ops.text import normalized


def _terms(col) -> Column:
    """Normalized word array; empty docs yield an empty array (split of
    '' would yield [''])."""
    return F.filter(F.split(normalized(col), " "), lambda t: t != "")


def _term_count(term: str) -> Column:
    # bound via helper, not a `t=t` default: a defaulted second lambda
    # param would make PySpark pass the array INDEX into it (HOF lambdas
    # are dispatched on arity — see ops/similarity.py)
    return F.size(F.filter("toks", lambda x: x == F.lit(term)))


def _term_freqs(
    df: DataFrame, id_col: str, text_col: str, terms: list[str]
) -> DataFrame:
    """Map-side base of the lexical rankers: per doc, its token count
    ``dl`` and one count ``tf_i`` per (lowercased) query term."""
    toks = _terms(F.col(text_col)).alias("toks")
    return df.select(F.col(id_col), toks).select(
        id_col,
        F.size("toks").alias("dl"),
        *[_term_count(t).alias(f"tf_{i}") for i, t in enumerate(terms)],
    )


def _collection_stats(base: DataFrame, n_terms: int) -> DataFrame:
    """ONE aggregate of the query-likelihood corpus statistics over a
    :func:`_term_freqs` base: total token count ``c_len`` and the
    collection frequency ``cf_i`` of each query term."""
    return base.agg(
        F.sum("dl").cast("double").alias("c_len"),
        *[
            F.sum(F.col(f"tf_{i}")).cast("double").alias(f"cf_{i}")
            for i in range(n_terms)
        ],
    )


def _matching_topk(
    scored: DataFrame, id_col: str, score: Column, n_terms: int, k: int
) -> DataFrame:
    """Top-*k* docs by *score* among those containing at least one
    query term (the rest rank on smoothing mass alone); ties break on
    ascending id."""
    any_tf = None
    for i in range(n_terms):
        hit = F.col(f"tf_{i}")
        any_tf = hit if any_tf is None else any_tf + hit
    return (
        scored.filter(any_tf > 0)
        .select(F.col(id_col), F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents for a bag-of-words query under BM25 (Robertson;
    Lucene-style smooth idf = ln(1 + (N - df + 0.5)/(df + 0.5))).

    Per-doc tf for each query term is a map-side array count; corpus
    stats (N, avgdl, per-term df) are one aggregate producing O(terms)
    scalars broadcast back into the scoring expression. Ties break on
    ascending id for a total order."""
    terms = [t.lower() for t in query_terms]
    base = _term_freqs(df, id_col, text_col, terms)
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs_total"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.join(F.broadcast(stats))
    score = None
    for i in range(len(terms)):
        idf = F.log(
            1.0
            + (F.col("n_docs_total") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
        )
        tf = F.col(f"tf_{i}").cast("double")
        part = idf * tf * (k1 + 1) / (
            tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )
        score = part if score is None else score + part
    return (
        scored.select(F.col(id_col), F.round(score, 6).alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def tfidf_top_terms(
    df: DataFrame,
    top_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-``top_n`` terms by tf-idf (tf = in-doc count,
    idf = ln(N / df), ties → lexicographically first term) — the
    keyword-labeling pass of a corpus exploration pipeline.

    Three keyed exchanges total — (doc, term) grouping, then a
    term-partitioned count window for document frequency (replacing a
    separate aggregate + self-join, which costs two more exchanges),
    then the doc-partitioned ranking window; every key is
    high-cardinality, so no hot partitions."""
    pairs = df.select(
        F.col(id_col), F.explode(_terms(F.col(text_col))).alias("term")
    )
    tf = pairs.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.count_distinct(F.col(id_col)).alias("n_docs_total"))
    scored = tf.withColumn(
        "term_df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    ).join(F.broadcast(n_docs)).select(
        id_col,
        "term",
        F.round(
            F.col("tf") * F.log(F.col("n_docs_total") / F.col("term_df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select(id_col, F.col("rn").alias("rank"), "term", "tfidf")
    )


def positional_postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positions-bearing inverted index (Lucene posting shape): one row
    per (term, doc) carrying the sorted 1-based position array. One
    explode + one (term, doc)-keyed aggregate; at scale the index is
    term-partitioned so a phrase probe reads only its terms' rows.
    Positions are array_sort'ed — never collect_list order."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.filter(F.split(normalized(F.col(text_col)), " "), lambda t: t != "")
        ).alias("pos0", "term"),
    )
    return toks.groupBy("term", "doc_id").agg(
        F.array_sort(F.collect_list(F.col("pos0") + 1)).alias("positions")
    )


def phrase_match(postings: DataFrame, phrase: str) -> DataFrame:
    """Exact phrase query over the positional index: for terms
    t0..t(n-1), a match at position p needs p+i in positions(ti) for
    every i — computed as the intersection of each term's positions
    shifted left by its offset. The probe filters the index to n
    literal terms (a pushable isin — at scale only those terms' posting
    rows are read), then chains n-1 doc-keyed joins between
    term-posting relations; docs missing any term drop out at the join.
    No corpus scan, no window, overlapping matches counted.

    Returns (doc_id, n_matches, first_pos) for docs with >= 1 match."""
    import re

    # same normalization as the index side: lowercase, punct -> space
    terms = [
        t
        for t in re.sub(r"[^a-z0-9\s]", " ", phrase.lower()).split()
        if t
    ]
    if not terms:
        raise ValueError("empty phrase")
    acc = None
    for i, t in enumerate(terms):
        side = (
            postings.filter(F.col("term") == t)
            .select(
                "doc_id",
                F.transform(F.col("positions"), lambda p: p - i).alias(f"p{i}"),
            )
        )
        acc = side if acc is None else acc.join(side, "doc_id")
    from functools import reduce

    starts = acc.select(
        "doc_id",
        reduce(
            lambda a, b: F.array_intersect(a, b),
            [F.col(f"p{i}") for i in range(len(terms))],
        ).alias("starts"),
    )
    return starts.filter(F.size("starts") > 0).select(
        "doc_id",
        F.size("starts").cast("long").alias("n_matches"),
        F.array_min("starts").cast("long").alias("first_pos"),
    )


def query_likelihood_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    mu: float = 300.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents under the Dirichlet-smoothed query-likelihood
    model (Zhai & Lafferty 2001) — the OTHER classic probabilistic
    ranker next to BM25, and the second voice RRF fusion needs:
    score = sum_t ln((tf_t + mu * cf_t / |C|) / (dl + mu)).

    Same economics as :func:`bm25_topk`: per-term tf is a map-side
    array count; corpus stats (collection frequency cf_t and total
    token count |C|) are ONE aggregate producing O(terms) scalars
    broadcast back into the scoring expression — no corpus shuffle.
    Docs containing none of the query terms are excluded (they rank on
    smoothing mass alone — pure length noise). Ties break ascending id.
    """
    terms = [t.lower() for t in query_terms]
    base = _term_freqs(df, id_col, text_col, terms)
    stats = _collection_stats(base, len(terms))
    scored = base.join(F.broadcast(stats))
    score = None
    for i in range(len(terms)):
        part = F.log(
            (F.col(f"tf_{i}") + F.lit(mu) * F.col(f"cf_{i}") / F.col("c_len"))
            / (F.col("dl") + F.lit(mu))
        )
        score = part if score is None else score + part
    return _matching_topk(scored, id_col, score, len(terms), k)


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    k_const: int = 60,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al. 2009) — the standard
    hybrid-search merge: fused(d) = sum over systems of
    1 / (k_const + rank_s(d)), a document absent from a system's list
    contributing nothing. Rank-based, so it needs NO score calibration
    between systems — exactly why it is the default fusion for
    BM25 + dense retrieval.

    Each input must carry (id, rank). The inputs are top-k relations —
    k rows each — so the full-outer merge joins tiny relations; nothing
    corpus-sized moves here. Output: top_k by fused score, ties asc id.
    """
    fused = None
    for i, r in enumerate(rankings):
        s = r.select(
            F.col(id_col),
            (1.0 / (F.lit(k_const) + F.col("rank"))).alias(f"_c{i}"),
        )
        fused = s if fused is None else fused.join(s, id_col, "full_outer")
    contrib = [
        F.coalesce(F.col(f"_c{i}"), F.lit(0.0)) for i in range(len(rankings))
    ]
    total = contrib[0]
    for c in contrib[1:]:
        total = total + c
    return (
        fused.select(
            F.col(id_col),
            F.round(total, 6).alias("rrf_score"),
            *[
                (F.col(f"_c{i}").isNotNull().cast("int")).alias(f"in_sys{i}")
                for i in range(len(rankings))
            ],
        )
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(top_k)
    )


def ranking_metrics(
    ranked: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    rel_col: str = "rel",
    k: int = 10,
) -> DataFrame:
    """Graded ranking evaluation: nDCG@k (exponential gain
    (2^rel - 1) / log2(rank + 1)) and MRR (1 / first rank with
    rel > 0) of a ranked list against a relevance relation — the eval
    every retrieval stack reports before it ships.

    ``ranked`` carries (id, rank) for the k candidates; ``labels`` is
    the full (id, rel) relation. The DCG side joins k rows against the
    labels (broadcast the k-row side); the IDEAL ranking needs only the
    top-k relevance VALUES sorted descending — TakeOrderedAndProject on
    the labels, never a global sort. Returns one row:
    (k, dcg, idcg, ndcg, mrr).
    """
    from pyspark.sql import Window

    lab = labels.select(F.col(id_col), F.col(rel_col).cast("double").alias("rel"))
    # inner join with the k-row ranked side broadcast RIGHT (the only
    # side BroadcastHashJoin builds for an inner probe of the big
    # relation): a ranked id missing from labels has rel 0 and would
    # contribute 0 to every sum below, so dropping it changes nothing.
    got = lab.join(
        F.broadcast(ranked.filter(F.col("rank") <= k)), id_col, "inner"
    ).select(
        F.col("rel"),
        F.col("rank").cast("double").alias("rank"),
    )
    dcg_agg = got.agg(
        F.sum(
            (F.pow(F.lit(2.0), F.col("rel")) - 1.0)
            / (F.log(F.col("rank") + 1.0) / F.log(F.lit(2.0)))
        ).alias("dcg"),
        F.min(F.when(F.col("rel") > 0, F.col("rank"))).alias("first_hit"),
    )
    ideal = (
        lab.orderBy(F.desc("rel"), F.asc(id_col))
        .limit(k)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("rel"), F.asc(id_col)))
            .cast("double"),
        )
    )
    idcg_agg = ideal.agg(
        F.sum(
            (F.pow(F.lit(2.0), F.col("rel")) - 1.0)
            / (F.log(F.col("rank") + 1.0) / F.log(F.lit(2.0)))
        ).alias("idcg")
    )
    return dcg_agg.crossJoin(F.broadcast(idcg_agg)).select(
        F.lit(k).cast("long").alias("k"),
        F.round("dcg", 6).alias("dcg"),
        F.round("idcg", 6).alias("idcg"),
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
        F.round(
            F.coalesce(1.0 / F.col("first_hit"), F.lit(0.0)), 6
        ).alias("mrr"),
    )


def jm_query_likelihood_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    lam: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k under JELINEK-MERCER-smoothed query likelihood —
    score = Σ_t ln((1−λ)·tf/dl + λ·cf/|C|) — the linear-interpolation
    smoothing Zhai & Lafferty 2001 compare against the Dirichlet prior
    (:func:`query_likelihood_topk`): JM mixes a FIXED collection share
    per term (better for verbose queries), Dirichlet scales smoothing
    with document length (better for short keyword queries). Shipping
    both makes the smoothing an ablation knob, not an architecture
    change.

    Identical plan economics: map-side per-term tf, ONE O(terms)
    corpus-stats aggregate broadcast back, no corpus shuffle; docs
    matching no query term are excluded (they score a rank-constant
    collection mass). Ties break ascending id."""
    terms = [t.lower() for t in query_terms]
    base = _term_freqs(df, id_col, text_col, terms)
    stats = _collection_stats(base, len(terms))
    scored = base.filter(F.col("dl") > 0).join(F.broadcast(stats))
    score = None
    for i in range(len(terms)):
        part = F.log(
            F.lit(1.0 - lam) * F.col(f"tf_{i}") / F.col("dl")
            + F.lit(lam) * F.col(f"cf_{i}") / F.col("c_len")
        )
        score = part if score is None else score + part
    return _matching_topk(scored, id_col, score, len(terms), k)


def rocchio_feedback_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    fb_docs: int = 5,
    fb_terms: int = 3,
    beta: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rocchio pseudo-relevance feedback (two-round retrieval): BM25
    retrieves ``fb_docs`` seeds, the ``fb_terms`` highest summed-TF-IDF
    terms in those seeds (stopwords and original query terms excluded)
    expand the query at weight ``beta``, and the expanded query
    rescores the corpus — the classic recall lever every lexical system
    ships before anything neural.

    Because the expansion terms are DATA-DEPENDENT, scoring runs over
    the (doc, term, tf) inverted-index relation rather than per-term
    tf columns: any term set is then just a join against a k-row terms
    relation, which is also what makes the whole two-round dataflow
    SQL-expressible for the oracle. Shape: one tokenize aggregate, a
    term-keyed df aggregate, two bounded top-k windows (seeds, expansion
    terms — both ≤ tens of rows), one rescoring join. Ranking rounds
    to 6dp before every ordering (id / term tiebreaks)."""

    from hudi_utility_spark.ops.text import _STOPWORDS

    terms0 = [t.lower() for t in query_terms]
    toks = (
        df.select(F.col(id_col), F.explode(_terms(F.col(text_col))).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dl = toks.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs_total"), F.avg("dl").alias("avgdl")
    )
    dfreq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    # per-(doc, term) BM25 component relation
    comp = (
        toks.join(dl, id_col)
        .join(F.broadcast(stats))
        .join(dfreq, "w")
        .select(
            id_col,
            "w",
            (
                F.log(
                    1.0
                    + (F.col("n_docs_total") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * F.col("tf").cast("double")
                * (k1 + 1)
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("part"),
        )
        .localCheckpoint(eager=False)
    )
    q0 = F.array(*[F.lit(t) for t in terms0])
    seeds = (
        comp.filter(F.array_contains(q0, F.col("w")))
        .groupBy(id_col)
        .agg(F.round(F.sum("part"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(fb_docs)
    )
    stop_arr = lits.array_string(list(_STOPWORDS))
    expansion = (
        toks.join(F.broadcast(seeds.select(id_col)), id_col, "left_semi")
        .join(dfreq, "w")
        .join(F.broadcast(stats))
        .filter(
            ~F.array_contains(q0, F.col("w"))
            & ~F.array_contains(stop_arr, F.col("w"))
        )
        .groupBy("w")
        .agg(
            F.round(
                F.sum(
                    F.col("tf")
                    * F.log(F.col("n_docs_total") / F.col("df").cast("double"))
                ),
                6,
            ).alias("tfidf")
        )
        .orderBy(F.desc("tfidf"), F.asc("w"))
        .limit(fb_terms)
    )
    weights = expansion.select(
        "w", F.lit(float(beta)).alias("wt")
    ).unionByName(
        df.sparkSession.createDataFrame(
            [(t, 1.0) for t in terms0], ["w", "wt"]
        )
    )
    return (
        comp.join(F.broadcast(weights), "w")
        .groupBy(id_col)
        .agg(F.round(F.sum(F.col("wt") * F.col("part")), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
