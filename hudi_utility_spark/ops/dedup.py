"""Deduplication operators (north star): exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Scale design, per operator:

* **exact** — one hash aggregate on a 128-bit content fingerprint; at
  100 TB the only shuffled payload is (fingerprint, doc_id).
* **jaccard** — shingle-inverted-index self-join: explode distinct
  shingles, join on shingle, count common per pair. The candidate set is
  bounded by shared-shingle pairs, never the full n².
* **minhash LSH** — k hash functions → signature; band the signature;
  pairs only within equal band buckets. Candidate volume tunable via
  (bands, rows-per-band) exactly like the published LSH S-curve.
* **simhash** — 64-bit weighted-majority hash; near-dups share all but a
  few bits; bucket on rotated prefixes for Hamming-distance blocking.
* **embedding cosine** — delegated to ops/similarity (normalized dot).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hudi_utility_spark.ops import phash, widen_for_compute
from hudi_utility_spark.ops.text import fingerprint, word_set


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (post-normalization) documents: one row
    per duplicated fingerprint with group size and the kept (min-id) doc."""
    fp = fingerprint(df, text_col)
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("group_size") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id representative per fingerprint (deterministic
    winner — the precombine-window idiom of write.latest_by_key)."""
    fp = fingerprint(df, text_col)
    w = Window.partitionBy("fingerprint").orderBy(F.asc(id_col))
    return (
        fp.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "fingerprint")
    )


def dedup_incremental(
    batch: DataFrame,
    corpus: DataFrame | None = None,
    corpus_fingerprints: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Continuous-ingest dedup: admit only batch documents whose content
    fingerprint is new — absent from the existing corpus AND not claimed
    by a lower-id document in the same batch. The operation every
    training-data pipeline runs on each arriving crawl shard.

    Pass either ``corpus`` (fingerprints computed on the fly) or
    ``corpus_fingerprints`` (a persisted store with a ``fingerprint``
    column — the production shape: at 100 TB the store is (md5, id)
    rows, ~1000× narrower than the corpus, and the anti-join shuffles
    only the batch side if the store is bucketed on fingerprint).
    Within-batch dedup reuses the deterministic min-id window of
    :func:`dedup_exact`."""
    if corpus_fingerprints is None:
        if corpus is None:
            raise ValueError("need corpus or corpus_fingerprints")
        corpus_fingerprints = fingerprint(corpus, text_col)
    store = corpus_fingerprints.select("fingerprint").distinct()
    bfp = fingerprint(batch, text_col)
    fresh = bfp.join(store, "fingerprint", "left_anti")
    w = Window.partitionBy("fingerprint").orderBy(F.asc(id_col))
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "fingerprint")
    )


# ---------------------------------------------------------------------------
# N-gram / unigram Jaccard near-dup
# ---------------------------------------------------------------------------

def _shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Distinct (id, shingle, hi, lo) rows; n=1 → words, n>1 → word
    n-grams. ``shingle`` is a portable 64-bit hash (md5-derived,
    `ops/phash.py` — identical in DuckDB, so MinHash built on top is
    fully oracle-checkable; the r2 xxhash64 was Spark-only); ``hi``/
    ``lo`` are its 32-bit halves, the inputs of the MinHash universal-
    hash family. Consumers project what they need — Jaccard reads only
    (id, shingle), and Catalyst prunes the rest, so its shuffles stay
    two-longs wide.

    The n-gram path is posexplode + window ``lead``, NOT an array HOF:
    a ``transform``/``element_at`` lambda inlines the whole text-
    normalization expression tree into every element access, so the
    regex pipeline would re-run O(words) times per document. Generate
    evaluates it exactly once; the lead window shuffles (id, word)
    pairs — tiny rows — once.
    """
    df = widen_for_compute(df)  # compute-bound: scan width != CPU width
    if n == 1:
        base = df.select(
            F.col(id_col).alias("id"),
            F.explode(word_set(F.col(text_col))).alias("s"),
        )
    else:
        words = F.split(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(
                        F.lower(F.col(text_col)), r"[^a-z0-9\s]", " "
                    ),
                    r"\s+",
                    " ",
                )
            ),
            " ",
        )
        pos = df.select(
            F.col(id_col).alias("id"), F.posexplode(words).alias("pos", "w")
        )
        w = Window.partitionBy("id").orderBy("pos")
        parts = [F.col("w")] + [F.lead("w", j).over(w) for j in range(1, n)]
        base = pos.select(
            "id", *[p.alias(f"_w{j}") for j, p in enumerate(parts)]
        ).filter(F.col(f"_w{n - 1}").isNotNull()).select(
            "id",
            # words are [a-z0-9]+, so the space join is collision-free
            F.concat_ws(" ", *[f"_w{j}" for j in range(n)]).alias("s"),
        )
    hi, lo = phash.parts(F.col("s"))
    return base.select(
        "id",
        phash.combine64(hi, lo).alias("shingle"),
        hi.alias("hi"),
        lo.alias("lo"),
    ).dropDuplicates(["id", "shingle"])



def _rarest_first(sh: DataFrame, dfreq: DataFrame) -> DataFrame:
    """Each shingle of `_shingles` with its document frequency ``df``,
    its rank ``rn`` in its set under the canonical global order
    (document frequency asc, shingle: rarest first, deterministic
    tiebreak) and the set's size ``set_size``: the order prefix
    filtering needs."""
    return (
        sh.join(dfreq, "shingle")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.asc("df"), F.asc("shingle"))
            ),
        )
        .withColumn("set_size", F.count(F.lit(1)).over(Window.partitionBy("id")))
    )


def _bitset_jaccard(pairs: DataFrame, nwords: int) -> DataFrame:
    """*pairs* with the overlap ``common`` of two shingle-set bitmasks
    (popcount of ``wa{i} & wb{i}`` over the *nwords* 64-bit words) and
    the ``jaccard`` it gives against ``size_a``/``size_b``, 6 places."""
    common = sum(
        (
            F.bit_count(F.col(f"wa{i}").bitwiseAND(F.col(f"wb{i}")))
            for i in range(nwords)
        ),
        start=F.lit(0),
    )
    return pairs.withColumn("common", common).withColumn(
        "jaccard",
        F.round(
            F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")),
            6,
        ),
    )

def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    threshold: float = 0.5,
    max_broadcast_entries: int = 5_000_000,
    max_dense_vocab: int = 4096,
    max_allpairs_groups: int = 8192,
) -> DataFrame:
    """Near-dup pairs by shingle-set Jaccard ≥ threshold — exact, via
    PPJoin-style prefix filtering (Xiao et al., WWW'08).

    The per-doc shingle-set side of the verification join is broadcast
    only when the (persisted) shingle relation holds at most
    ``max_broadcast_entries`` (id, shingle) rows — the same
    runtime-stats dispatch AQE uses — so the operator needs no retuning
    between a 10k-doc test corpus and a full crawl, where the
    verification must be a shuffle join on id instead.

    **Adaptive verification.** One driver-side count of the distinct
    shingle vocabulary picks the physical strategy (the same move AQE
    makes from runtime stats):

    * vocabulary ≤ ``max_dense_vocab`` (template-heavy corpora, n-gram
      codes, enum-ish fields): each doc's set is packed into
      ⌈V/64⌉ *long columns*; |A∩B| is a statically-unrolled
      Σ bit_count(aᵢ & bᵢ) — pure primitive ops inside whole-stage
      codegen, ~10× faster per pair than hash-set intersection.
    * open vocabulary: per-doc sorted arrays of 64-bit shingle hashes,
      |A∩B| via ``array_intersect``.

    A naive inverted-index self-join costs Σ_w df(w)² — hot shingles
    (stopword-like, df≈N) make that quadratic. Prefix filtering is the
    exact fix: order each set by global document frequency (rarest
    first); any pair with J ≥ t must share a shingle inside both sets'
    first |S| − ⌈t·|S|⌉ + 1 shingles, so only those rare prefixes feed
    candidate generation. Verification then joins each candidate pair to
    the two full shingle arrays and computes |A∩B| with the JVM-side
    ``array_intersect`` — two shuffles of candidate volume, no per-pair
    explode. Returns (id_a, id_b, jaccard) with id_a < id_b.

    Shingles are 64-bit-hashed right after generation: every downstream
    groupBy/join/intersect runs on primitive longs, not strings — on
    template-heavy corpora where ~all pairs survive blocking,
    verification throughput dominates and long arrays intersect ~10×
    faster. (Exact modulo portable-hash64 collisions within one
    document's shingle set: P ≈ s²/2⁶⁵ — see ops/phash.py.)
    """
    sh = _shingles(df, id_col, text_col, n)
    # The shingle relation feeds three branches (df-ranking, candidate
    # prefixes, verification sets); persist so one lazy plan doesn't
    # re-explode the corpus per branch.
    sh = sh.persist()
    # ONE vocabulary-keyed aggregate serves both the vocabulary count
    # (the adaptive-dispatch gate) and the document-frequency ranking
    # the prefix-candidate pass needs — the old shape computed the same
    # grouping twice (distinct().count() at build time, groupBy(df) in
    # the candidate plan), i.e. two full passes over the shingle
    # relation where one suffices (guide §1.2 / §2.4). Persisted under
    # the same caller-clears-cache lifetime contract as `sh`.
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).persist()
    vocab = dfreq.select("shingle")
    vocab_count = dfreq.count()

    def _should_broadcast() -> bool:
        # runtime-stats dispatch (the shingle relation is persisted, so
        # this count is a cache scan): broadcast the per-doc set side
        # only when it demonstrably fits executor memory. Lazy — the
        # dense all-pairs path never consults it, so small/template
        # corpora skip the extra action entirely.
        return sh.count() <= max_broadcast_entries

    def _prefix_candidates() -> DataFrame:
        # Canonical global order: (document frequency asc, shingle) —
        # rarest first, deterministic tiebreak. dfreq is the persisted
        # build-time aggregate — a cache scan here, not a fresh pass.
        ranked = _rarest_first(sh, dfreq)
        prefix_len = (
            F.col("set_size") - F.ceil(F.lit(threshold) * F.col("set_size")) + 1
        )
        prefix = ranked.filter(
            F.col("rn") <= F.greatest(prefix_len, F.lit(1))
        ).select("id", "shingle", "set_size", "rn")

        a, b = prefix.alias("a"), prefix.alias("b")
        # PPJoin+ positional filter (Xiao et al. §4): a shared prefix
        # shingle at ranks (rn_a, rn_b) bounds the overlap by
        # 1 + min(|A|−rn_a, |B|−rn_b) — the global (df, shingle) order
        # is shared, so every other common shingle ranks after it in
        # BOTH sets. J ≥ t needs overlap ≥ t/(1+t)·(|A|+|B|); collision
        # rows whose bound can't reach that are dropped BEFORE the pair
        # dedup shuffle. Exact: for the pair's globally-first common
        # shingle the bound is valid, and later collisions only have
        # smaller bounds, so a surviving pair always keeps ≥1 row (the
        # 1e-9 slack keeps float rounding from pruning an exact-boundary
        # pair; verification recomputes exact jaccard anyway).
        pos_bound = F.lit(1) + F.least(
            F.col("a.set_size") - F.col("a.rn"),
            F.col("b.set_size") - F.col("b.rn"),
        )
        need = (
            F.lit(threshold)
            * (F.col("a.set_size") + F.col("b.set_size"))
            / F.lit(1.0 + threshold)
        )
        return (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.id") < F.col("b.id"))
                # length filter: J ≥ t forces t·|A| ≤ |B| ≤ |A|/t
                & (F.col("b.set_size") * F.lit(threshold) <= F.col("a.set_size"))
                & (F.col("a.set_size") * F.lit(threshold) <= F.col("b.set_size"))
                & (pos_bound >= need - F.lit(1e-9)),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )

    if vocab_count <= max_dense_vocab:
        # Dense path: pack each set into ⌈V/64⌉ long columns.
        nwords = max(1, (vocab_count + 63) // 64)
        # single-task by construction, but over the VOCAB relation,
        # which this branch's gate bounds to ≤ max_dense_vocab (4096)
        # rows — never the corpus (SCALE.md "Bounded single-partition
        # windows")
        tokmap = vocab.withColumn(
            "tok", F.row_number().over(Window.orderBy("shingle")) - 1
        )
        toks = sh.join(F.broadcast(tokmap), "shingle").select("id", "tok")
        word_cols = [
            F.sum(
                F.when(
                    (F.col("tok") >= i * 64) & (F.col("tok") < (i + 1) * 64),
                    F.expr("shiftleft(CAST(1 AS BIGINT), CAST(tok % 64 AS INT))"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias(f"w{i}")
            for i in range(nwords)
        ]
        masks = toks.groupBy("id").agg(
            *word_cols, F.count(F.lit(1)).alias("set_size")
        )

        # Identical word-sets are common in template corpora; group them
        # and, when few distinct sets remain, compare distinct sets
        # all-pairs (primitive mask ops under a broadcast nested loop —
        # no shingle self-join, no candidate dedup shuffle) and expand
        # group pairs back to doc pairs. Output volume is the true pair
        # count either way; this path just skips building candidates.
        groups = (
            masks.groupBy(*[f"w{i}" for i in range(nwords)], "set_size")
            .agg(
                F.min("id").alias("gid"),
                F.sort_array(F.collect_list("id")).alias("members"),
            )
            .persist()
        )
        n_groups = groups.count()
        if n_groups <= max_allpairs_groups:
            # the returned plan reads only the now-materialized `groups`
            # cache: sh and dfreq have no remaining consumers on this
            # branch, so drop them immediately instead of leaving two
            # corpus-scale cached relations pinned until the caller
            # clears (r12 driver-measured 32-core regression suspect;
            # r12 ADVICE #4 cache-leak note). Eviction of a `groups`
            # block would merely recompute through the lineage.
            sh.unpersist()
            dfreq.unpersist()
            ga = groups.select(
                F.col("gid").alias("gid_a"),
                F.col("set_size").alias("size_a"),
                F.col("members").alias("members_a"),
                *[F.col(f"w{i}").alias(f"wa{i}") for i in range(nwords)],
            )
            gb = groups.select(
                F.col("gid").alias("gid_b"),
                F.col("set_size").alias("size_b"),
                F.col("members").alias("members_b"),
                *[F.col(f"w{i}").alias(f"wb{i}") for i in range(nwords)],
            )
            gpairs = (
                _bitset_jaccard(
                    ga.join(
                        F.broadcast(gb),
                        (F.col("gid_a") < F.col("gid_b"))
                        & (F.col("size_b") * F.lit(threshold) <= F.col("size_a"))
                        & (F.col("size_a") * F.lit(threshold) <= F.col("size_b")),
                    ),
                    nwords,
                )
                # common > 0 keeps this path's contract identical to the
                # candidate-generation paths: disjoint sets are never a
                # pair, even at threshold 0
                .filter((F.col("jaccard") >= threshold) & (F.col("common") > 0))
                .select("jaccard", "members_a", "members_b")
            )
            cross = (
                gpairs.select(
                    "jaccard", F.explode("members_a").alias("x"), "members_b"
                )
                .select("jaccard", "x", F.explode("members_b").alias("y"))
                .select(
                    F.least("x", "y").alias("id_a"),
                    F.greatest("x", "y").alias("id_b"),
                    "jaccard",
                )
            )
            within = (
                groups.filter(F.size("members") > 1)
                .select(F.col("members"), F.posexplode("members").alias("pa", "ida"))
                .select("ida", "pa", F.posexplode("members").alias("pb", "idb"))
                .filter(F.col("pa") < F.col("pb"))
                .select(
                    F.col("ida").alias("id_a"),
                    F.col("idb").alias("id_b"),
                    F.round(F.lit(1.0), 6).alias("jaccard"),
                )
            )
            return cross.unionByName(within)

        cand = _prefix_candidates()
        ma = masks.select(
            F.col("id").alias("id_a"),
            F.col("set_size").alias("size_a"),
            *[F.col(f"w{i}").alias(f"wa{i}") for i in range(nwords)],
        )
        mb = masks.select(
            F.col("id").alias("id_b"),
            F.col("set_size").alias("size_b"),
            *[F.col(f"w{i}").alias(f"wb{i}") for i in range(nwords)],
        )
        if _should_broadcast():
            ma, mb = F.broadcast(ma), F.broadcast(mb)
        verified = _bitset_jaccard(
            cand.join(ma, "id_a").join(mb, "id_b"), nwords
        ).filter(F.col("jaccard") >= threshold)
        return verified.select("id_a", "id_b", "jaccard")

    cand = _prefix_candidates()
    sets = sh.groupBy("id").agg(F.collect_set("shingle").alias("shingles"))
    sa = sets.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    if _should_broadcast():
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.size("sh_a") + F.size("sh_b") - F.col("common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 2,
) -> DataFrame:
    """(id, sig: array<bigint>) MinHash signatures.

    The k hash functions are the portable universal family of
    `ops/phash.py`: hᵢ = (aᵢ·hi + bᵢ·lo + cᵢ) mod (2³¹−1) over the md5
    halves of each shingle — ONE digest per shingle then k multiply-add-
    mod expressions (cheaper than k fresh hashes, and reproducible in
    DuckDB, which upgrades the driver check from rows-only to a full
    value-hash). The signature is k per-group MINs — one hash aggregate
    over the exploded shingles, no UDFs. Signature width trades accuracy
    vs shuffle bytes exactly as in the MinHash literature.
    """
    sh = _shingles(df, id_col, text_col, shingle_n)
    # k min-hash aggregates rendered as SQL text (one JVM parse per
    # column instead of ~10 py4j round-trips per hash — ops/lits.py
    # discipline); values identical to the Column builder.
    mins = [
        F.expr("min(" + phash.spark_sql_family("hi", "lo", i) + ")").alias(
            f"h{i}"
        )
        for i in range(num_hashes)
    ]
    agg = sh.groupBy("id").agg(*mins)
    return agg.select(
        "id",
        F.expr(
            "array(" + ",".join(f"h{i}" for i in range(num_hashes)) + ")"
        ).alias("sig"),
    )


def _band_rows(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, band_hash) rows from a signature relation — the LSH
    bucket keys. This is also the PERSISTED STORE layout for
    incremental near-dup (`incremental_minhash`): (band, band_hash, id)
    is ~24 bytes/band/doc regardless of document size, and bucketing
    the store on (band, band_hash) makes the per-batch probe a
    store-side-stationary join."""
    rows_per_band = num_hashes // bands

    def _band_struct(b: int) -> str:
        cat = (
            "concat_ws(',',"
            + ",".join(
                f"CAST(element_at(sig, {b * rows_per_band + r + 1}) AS STRING)"
                for r in range(rows_per_band)
            )
            + ")"
        )
        return (
            f"named_struct('band', {b}, 'band_hash',"
            f" {phash.spark_sql_hash64(cat)})"
        )

    # one JVM-parsed SQL array instead of bands×(struct+hash64) Column
    # trees — same values (phash.spark_sql_hash64 mirrors phash.hash64)
    arr = F.expr(
        "array(" + ",".join(_band_struct(b) for b in range(bands)) + ")"
    )
    return sig.select("id", F.explode(arr).alias("bh")).select(
        "id", F.col("bh.band").alias("band"), F.col("bh.band_hash").alias("band_hash")
    )


def minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 2,
) -> DataFrame:
    """Banded LSH keys for a corpus — the near-dup analogue of
    `fingerprint`'s exact store. Persist this (not the text, not even
    the signatures) as the continuously-maintained near-dup index."""
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    return _band_rows(sig, num_hashes, bands)


def incremental_minhash(
    batch: DataFrame,
    store_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 2,
    return_bands: bool = False,
    broadcast_max_band_rows: int = 20_000_000,
):
    """Continuous-ingest NEAR-dup gate: admit only batch documents with
    no LSH band collision against the persisted corpus band store
    (`minhash_bands`) and none against a lower-id document of the same
    batch — the approximate twin of `dedup_incremental`'s exact gate,
    catching near-copies (boilerplate edits, re-crawls with changed
    headers) that exact fingerprints miss.

    Deliberately verification-free: a band collision alone rejects
    (conservative-precision, S-curve-bounded false-positive rate), so
    no signatures need be stored or joined — the store stays (band,
    band_hash, id) and the whole gate is two semi-join-shaped probes of
    it. At 100 TB: batch bands ≪ store bands, and that asymmetry is the
    physical plan, not a planner guess: the batch band relation is
    persisted, counted, and — under ``broadcast_max_band_rows`` — the
    corpus probe runs as ``store ⋈ BROADCAST(batch bands)`` (inner +
    distinct ≡ the semi-join on the projected batch id), so the store
    is never shuffled OR broadcast regardless of what the optimizer
    estimates (the left-semi form can only ever broadcast its RIGHT
    side — the store, exactly the side that must never move). The batch
    self-probe and the final anti-join ride the same measured gate (the
    reject list is ≤ the batch's doc count; its unknown checkpoint-free
    aggregate stats otherwise force a sort-merge anti-join that
    exchanges the whole batch). Admitted docs' bands then append to the
    store (caller's move, mirroring the fingerprint-store append in
    `stream_dedup_ingest`).

    Set ``return_bands=True`` to also receive the (persisted) batch band
    relation — callers that append admitted bands to the store reuse it
    (no second signature pass) and OWN the ``unpersist()`` (the
    streaming sink does both; a long-lived session that discards the
    result should clear the cache between units of work as bench.py
    does).
    """
    bb = minhash_bands(batch, id_col, text_col, num_hashes, bands, shingle_n).persist()
    # measured gate from the CHEAP side: band rows are exactly ≤
    # docs × bands by construction, and counting the raw batch skips
    # the shingle/signature pass (which then materializes once, lazily,
    # inside the probe pipeline where it overlaps the corpus side)
    small = batch.count() * bands <= broadcast_max_band_rows
    if small:
        # inner + distinct over the projected batch id ≡ the semi-join;
        # the store side is a bare stream — never exchanged, never built
        hit_corpus = (
            store_bands.select("band", "band_hash")
            .join(F.broadcast(bb), ["band", "band_hash"])
            .select("id")
            .distinct()
        )
    else:
        hit_corpus = (
            bb.join(store_bands, ["band", "band_hash"], "left_semi")
            .select("id")
            .distinct()
        )
    a, b = bb.alias("a"), bb.alias("b")
    if small:
        b = F.broadcast(b)
    hit_batch = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("b.id").alias("id"))
        .distinct()
    )
    rejected = hit_corpus.union(hit_batch).distinct()
    if small:
        rejected = F.broadcast(rejected)
    admitted = batch.join(
        rejected.withColumnRenamed("id", id_col), id_col, "left_anti"
    )
    if return_bands:
        return admitted, bb
    return admitted


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 2,
    threshold: float = 0.5,
    max_broadcast_docs: int = 1_000_000,
) -> DataFrame:
    """Candidate pairs via banded LSH, verified by signature similarity.

    The signature side of the verification joins (k×8 bytes per doc) is
    broadcast only up to ``max_broadcast_docs`` docs of the (persisted)
    signature relation (≈256 MB at k=32), the same runtime-stats
    dispatch as ``jaccard_pairs``; past it, corpus scale needs a
    shuffle join on id.

    Pipeline: signature → split into `bands` bands of k/bands rows →
    hash each band → self-join on (band_idx, band_hash) → estimated
    Jaccard = fraction of equal signature positions ≥ threshold.
    At 100 TB: the band join shuffles only (band_hash, id) pairs, and the
    S-curve keeps candidate volume near the true-pair volume.
    """
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    sig = sig.persist()
    # Band rows carry ONLY (id, band, band_hash): the clustered self-join
    # multiplies candidate pairs by shared-band count, and dragging the
    # k×8-byte signature arrays through that join + dropDuplicates is the
    # dominant shuffle at scale. Join signatures back after dedup instead.
    banded = _band_rows(sig, num_hashes, bands)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    if sig.count() <= max_broadcast_docs:
        sig_a, sig_b = F.broadcast(sig_a), F.broadcast(sig_b)
    # Statically-unrolled position-match count: k primitive comparisons
    # inside whole-stage codegen (a zip_with/filter HOF here evaluates
    # interpreted with boxing — ~10× slower per pair).
    matches = F.expr(
        "0 + "
        + " + ".join(
            f"(CASE WHEN element_at(sig_a, {i + 1}) ="
            f" element_at(sig_b, {i + 1}) THEN 1 ELSE 0 END)"
            for i in range(num_hashes)
        )
    )
    est = F.round(matches / F.lit(num_hashes), 6)
    return (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# Near-dup group resolution (pairs → clusters → survivors)
# ---------------------------------------------------------------------------

def near_dup_groups(
    pairs: DataFrame,
    max_iterations: int = 20,
    broadcast_max_nodes: int = 2_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair list: (id, group_id)
    where group_id = min id reachable through the pair graph.

    Iterative min-label propagation (hash-to-min): each round every node
    adopts the smallest label among itself and its neighbors; rounds
    needed = graph diameter, which for near-dup clusters (dense
    near-cliques) is tiny. Each round is ``localCheckpoint``-ed —
    without lineage truncation the iteration-N plan embeds all N-1
    predecessors and planning cost goes quadratic (the standard trap of
    iterative DataFrame algorithms). Convergence is detected from the
    label sum: labels only ever decrease, so an unchanged Σ group_id is
    a fixpoint — one cheap aggregate per round, no self-join.

    The label relation is node-sized but checkpoint-backed, so its
    unknown stats push the planner to sort-merge for BOTH per-round
    joins — exchanging and sorting the full edge relation every round.
    Under a MEASURED node-count gate (the count rides the existing
    init-sum aggregate, zero extra jobs) the label vector and the
    per-round neighbor-min aggregate are broadcast instead: each round
    becomes two map-side hash joins plus the one genuine exchange (the
    src-keyed min), the same runtime-stats dispatch as `pagerank` /
    `triangle_counts` (guide §3.1). Above the gate — more near-dup'd
    nodes than a broadcast should hold — the sort-merge rounds are the
    right call and unchanged.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    # LAZY localCheckpoints throughout the loop: the convergence-sum
    # action is what materializes each round's label relation, so every
    # round costs ONE job (materialize + aggregate together) instead of
    # the two an eager checkpoint + separate sum collect paid — the
    # lineage truncation is identical either way (guide §1.2: don't run
    # jobs you can fold into the next action).
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("group_id", F.col("id"))
        .localCheckpoint(eager=False)
    )
    prev_sum, n_nodes = labels.agg(
        F.sum("group_id"), F.count(F.lit(1))
    ).collect()[0]
    small = n_nodes <= broadcast_max_nodes
    for _ in range(max_iterations):
        lab = F.broadcast(labels) if small else labels
        neighbor_min = (
            edges.join(lab, edges.dst == lab.id)
            .groupBy("src")
            .agg(F.min("group_id").alias("nbr_min"))
        )
        if small:
            neighbor_min = F.broadcast(neighbor_min)
        labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("group_id"), F.coalesce(F.col("nbr_min"), F.col("group_id"))
                ).alias("group_id"),
            )
            .localCheckpoint(eager=False)
        )
        new_sum = labels.agg(F.sum("group_id")).collect()[0][0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    broadcast_max_drops: int = 20_000_000,
) -> DataFrame:
    """Rows of `df` that survive near-dup removal: per connected
    component of `pairs`, keep only the min-id representative. Rows in
    no pair survive untouched — the left-anti is on the drop list, which
    is (component size − 1)/component of the paired rows only.

    The drop list rides a MEASURED broadcast (the label relation is
    checkpoint-backed, so the count is a cache scan): its unknown stats
    otherwise push the planner to a sort-merge anti-join that exchanges
    the whole corpus by id (guide §3.1). Above the gate — a corpus
    where tens of millions of rows are near-dup losers — the shuffle
    anti-join is the right call and still only moves ids."""
    groups = near_dup_groups(pairs)
    drops = groups.filter(F.col("id") != F.col("group_id")).select(
        F.col("id").alias(id_col)
    )
    if groups.count() <= broadcast_max_drops:
        drops = F.broadcast(drops)
    return df.join(drops, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64) -> DataFrame:
    """(id, simhash) — weighted-majority bit signature over word hashes.

    Per word w: h = the portable 64-bit md5-derived hash
    (`ops/phash.py` — engine-reproducible, so the driver hash-checks the
    full pipeline against a DuckDB oracle; the r2 xxhash64 was
    Spark-only and demoted this to rows-only); bit i contributes +1 if
    set else -1; simhash bit i = majority sign (2·set_count > n_words).
    Computed entirely per-row with higher-order array functions — no
    explode, no shuffle: at 100 TB the signature step is a map-only pass
    over the corpus, embarrassingly parallel across whatever
    partitioning the scan produced.
    """
    df = widen_for_compute(df)  # compute-bound: scan width != CPU width
    # bit masks as shift expressions: bit 63 overflows a signed-long
    # literal but wraps correctly under shift; constant-folded once
    masks = "array(" + ",".join(f"shiftleft(1L,{i})" for i in range(bits)) + ")"
    sig = f"""
    aggregate(
      zip_with(
        aggregate(
          _sh_hashes,
          array_repeat(0L, {bits}),
          (acc, h) -> zip_with(acc, {masks},
                               (a, m) -> a + CASE WHEN (h & m) <> 0
                                               THEN 1L ELSE 0L END)
        ),
        {masks},
        (c, m) -> CASE WHEN 2 * c > size(_sh_hashes) THEN m ELSE 0L END
      ),
      0L,
      (s, x) -> s | x
    )
    """
    return df.select(
        F.col(id_col).alias("id"),
        F.transform(word_set(F.col(text_col)), lambda w: phash.hash64(w)).alias(
            "_sh_hashes"
        ),
    ).select("id", F.expr(sig).alias("simhash"))


def hamming_distance(col_a, col_b):
    """Population count of XOR — bit distance between two simhashes."""
    return F.bit_count(col_a.bitwiseXOR(col_b))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_distance: int = 3,
    prefix_bits: int = 16,
) -> DataFrame:
    """Near-dup pairs with Hamming distance ≤ max_distance.

    Blocking: 4 rotations of the 64-bit hash; two hashes within distance
    d ≤ 3 share at least one identical 16-bit prefix under some rotation
    (pigeonhole over 4 blocks) — so the self-join is on (rotation,
    prefix), never all-pairs.

    The signature table is localCheckpoint()-ed first: simhash() is a
    map-only expression with no exchange, so without materialization the
    self-join would recompute the 64-slot signature aggregate on both
    sides — and again inside the join condition for every candidate
    pair. The checkpoint is |corpus| × 16 bytes, negligible at any SF.
    """
    sh = simhash(df, id_col, text_col).localCheckpoint(eager=False)
    rots = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("rot"),
                        F.shiftright(F.col("simhash"), r * prefix_bits)
                        .bitwiseAND(F.lit((1 << prefix_bits) - 1))
                        .alias("prefix"),
                    )
                    for r in range(64 // prefix_bits)
                ]
            )
        ).alias("p"),
    ).select("id", "simhash", F.col("p.rot").alias("rot"), F.col("p.prefix").alias("prefix"))
    a, b = rots.alias("a"), rots.alias("b")
    return (
        a.join(
            b,
            (F.col("a.rot") == F.col("b.rot"))
            & (F.col("a.prefix") == F.col("b.prefix"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming_distance(F.col("a.simhash"), F.col("b.simhash")).alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
        # distance filter BEFORE the dedup shuffle: candidates that fail
        # the Hamming test never enter the exchange, so the distinct
        # stage shuffles only true near-pairs (tiny at any scale)
        .dropDuplicates(["id_a", "id_b"])
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    threshold: float = 0.8,
    max_broadcast_entries: int = 5_000_000,
) -> DataFrame:
    """Directed near-dup pairs by shingle-set CONTAINMENT
    ``C(A→B) = |A∩B| / |A| ≥ threshold`` — the ASYMMETRIC similarity
    Jaccard cannot express: a short document wholly quoted inside a
    long one has high containment but low Jaccard (the union is
    dominated by B), so quote-embedding, boilerplate-wrapping, and
    article-plus-comments near-dups slip through symmetric dedup and
    are caught here. Returns (id_a, id_b, containment) with id_a the
    CONTAINED side; both directions can appear.

    Exactness with prefix filtering, asymmetric form: if
    |A∩B| ≥ t·|A|, at most |A| − ⌈t·|A|⌉ of A's shingles fall outside
    B, so A's prefix of its ⌊(1−t)·|A|⌋+1 globally-rarest shingles must
    intersect B — candidates come from joining A-PREFIXES against the
    FULL inverted index (the B side has no size bound: a subset's
    superset can be arbitrarily large, which is also why there is no
    length filter). Cost is Σ_w prefix_df(w)·df(w): hot shingles are
    cheap on the prefix side (they rank last in the rarest-first order,
    so they only enter prefixes of tiny sets) and pay df on the full
    side once — the same economics as the symmetric PPJoin, minus one
    length filter. Verification joins candidates to the two sorted
    64-bit shingle-hash arrays (`array_intersect`, JVM-side), with the
    set side broadcast only below a measured row bound (runtime-stats
    dispatch, shuffle-join fallback above). The shingle relation is
    persisted (three consumers); same cache-lifetime contract as
    `jaccard_pairs` — clear after materializing."""
    sh = _shingles(df, id_col, text_col, n).select("id", "shingle").persist()
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # ranked feeds BOTH candidate sides now (A prefixes + the full
    # B index with positions for the PPJoin+ positional filter below);
    # persist so the df-join + windows run once, not once per side.
    # Same caller-clears-cache lifetime contract as `sh`.
    ranked = _rarest_first(sh, dfreq).persist()
    prefix_len = (
        F.col("set_size") - F.ceil(F.lit(threshold) * F.col("set_size")) + 1
    )
    prefix = ranked.filter(F.col("rn") <= F.greatest(prefix_len, F.lit(1))).select(
        "id", "shingle", "set_size", "rn"
    )
    # PPJoin+ positional filter, asymmetric form: a common shingle at
    # ranks (rn_a, rn_b) in the shared global (df, shingle) order bounds
    # |A∩B| by 1 + min(|A|−rn_a, |B|−rn_b); C(A→B) ≥ t needs
    # |A∩B| ≥ ⌈t·|A|⌉. Collision rows that cannot reach the bound are
    # dropped BEFORE the pair-dedup shuffle; exact because the pair's
    # globally-first common shingle always sits in A's prefix for a
    # qualifying pair and carries the maximal bound (the 1e-9 slack
    # guards float rounding at the boundary; verification recomputes
    # exact containment anyway).
    pos_bound = F.lit(1) + F.least(
        F.col("a.set_size") - F.col("a.rn"),
        F.col("b.set_size") - F.col("b.rn"),
    )
    cand = (
        prefix.alias("a")
        .join(
            ranked.select("id", "shingle", "set_size", "rn").alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") != F.col("b.id"))
            & (
                pos_bound
                >= F.lit(threshold) * F.col("a.set_size") - F.lit(1e-9)
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sets = sh.groupBy("id").agg(
        F.sort_array(F.collect_set("shingle")).alias("s"),
        F.count(F.lit(1)).alias("set_size"),
    )
    sa = sets.select(
        F.col("id").alias("id_a"),
        F.col("s").alias("sa"),
        F.col("set_size").alias("size_a"),
    )
    sb = sets.select(F.col("id").alias("id_b"), F.col("s").alias("sb"))
    if sh.count() <= max_broadcast_entries:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.round(
                F.size(F.array_intersect("sa", "sb")) / F.col("size_a"), 6
            ),
        )
        .filter(
            F.size(F.array_intersect("sa", "sb"))
            >= F.ceil(F.lit(threshold) * F.col("size_a"))
        )
        .select("id_a", "id_b", "containment")
    )


def semdedup(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    *,
    max_cluster_rows: int = 100_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) end-to-end: (1) coarse-cluster the
    embedding space (here: per-``cell_col`` mean centroids — the
    k-means step, reusing the IVF coarse quantizer), (2) REASSIGN every
    vector to its nearest centroid by cosine, (3) within each cluster,
    drop every vector that has a more-senior (smaller-id) neighbor at
    cosine >= ``threshold`` — keep-first semantics, the paper's
    keep-one-per-epsilon-ball with a deterministic representative.

    Scale shape: the centroid relation is k rows (broadcast); the
    assignment is a map-side cross-score + per-vector top-1 window
    keyed by the high-cardinality id; the near-dup self-join keys on
    the CLUSTER, so candidate volume is per-cluster quadratic, never
    global — the entire point of clustering before deduplicating at
    100 TB. That only holds while clusters stay bounded: the
    ``max_cluster_rows`` guard pays one cluster-sized aggregate and
    fails LOUDLY when the fattest cluster would make the quadratic
    term explode — the fix is more clusters (SemDeDup scales k with
    corpus size), and a silent 10^12-pair self-join is not a
    fallback. Returns survivors: (id, cluster).
    """
    from pyspark.sql import Window

    from hudi_utility_spark.ops.similarity import cosine, ivf_centroids

    cents = ivf_centroids(df, vec_col, cell_col)
    # rank on ROUND(sim, 6): centroids come from a distributed AVG whose
    # partial-sum order varies with partitioning, so unrounded near-ties
    # could flip assignment run-to-run / engine-to-engine (the same
    # round-before-rank discipline as margin_pair_mining / assign_cells)
    w = Window.partitionBy(id_col).orderBy(F.desc("sim"), F.asc("cell"))
    assigned = (
        df.select(id_col, vec_col)
        .join(F.broadcast(cents))
        .select(
            id_col,
            vec_col,
            "cell",
            F.round(cosine(F.col(vec_col), F.col("centroid")), 6).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, vec_col, F.col("cell").alias("cluster"))
        # both sides of the near-dup self-join read this relation; the
        # checkpoint stops the centroid agg + assignment window from
        # executing twice (and truncates lineage for the anti-join pass)
        .localCheckpoint(eager=False)
    )
    # one pass over the cluster histogram yields BOTH the mega-cluster
    # guard and the total row count (the broadcast gate below)
    _sizes = (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"), F.sum("n").alias("total"))
        .collect()[0]
    )
    fattest = _sizes["mx"] or 0
    n_total = _sizes["total"] or 0
    if fattest > max_cluster_rows:
        raise ValueError(
            f"semdedup: fattest cluster has {fattest} rows "
            f"(> {max_cluster_rows}); increase the cluster count "
            "(SemDeDup scales k with corpus size) instead of running "
            "a quadratic self-join over a mega-cluster"
        )
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        F.col("cluster").alias("cl_a"),
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        F.col("cluster").alias("cl_b"),
    )
    # measured dispatch (same discipline as jaccard_pairs): broadcast
    # the junior side of the cluster-keyed self-join while the vector
    # relation demonstrably fits executor memory (~dims×8 B/row); the
    # cluster-keyed shuffle join is the correct fallback above it
    if n_total <= 1_000_000:
        b = F.broadcast(b)
    drops = (
        a.join(
            b, (F.col("cl_a") == F.col("cl_b")) & (F.col("id_a") < F.col("id_b"))
        )
        .filter(
            F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6)
            >= F.lit(float(threshold))
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    if n_total <= 20_000_000:
        drops = F.broadcast(drops)
    return assigned.join(drops, id_col, "left_anti").select(id_col, "cluster")
