"""Oracle-checked dedup queries over documents/embeddings."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.ops import dedup as D
from hudi_utility_spark.queries import query
from hudi_utility_spark.queries.similarity import _IVF_CENTS
from hudi_utility_spark.tables import load_table

_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)

# normalized unigram word sets, their sizes, and the shared-word count
# of every doc pair a < b: the CTEs the Jaccard oracles start from
_UNIGRAM_OVERLAP = """sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM words GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""
_UNIGRAM_COMMON = f"""words AS (
        SELECT doc_id, unnest(list_distinct(string_split({_NORM_SQL}, ' '))) AS w
        FROM documents
    ),
    {_UNIGRAM_OVERLAP}"""

# the same over distinct word trigrams, for every ordered pair a <> b
# (containment is directed)
_TRIGRAM_COMMON = f"""toks AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents),
    grams AS (
        SELECT doc_id,
               list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              for i in range(1, len(ws) - 1)]) AS gs
        FROM toks WHERE len(ws) >= 3
    ),
    words AS (SELECT doc_id, unnest(gs) AS w FROM grams),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM words GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM words a JOIN words b ON a.w = b.w AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )"""


@query(
    "dedup_exact_groups",
    f"""
    SELECT md5({_NORM_SQL}) AS fingerprint,
           COUNT(*) AS group_size,
           MIN(doc_id) AS keep_id
    FROM documents
    GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by normalized-content fingerprint."""
    d = load_table(spark, sf_dir, "documents")
    return D.exact_duplicates(d)


@query(
    "dedup_exact_survivors",
    f"""
    SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (
            PARTITION BY md5({_NORM_SQL}) ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving doc ids after exact dedup (deterministic min-id winner)."""
    d = load_table(spark, sf_dir, "documents")
    return D.dedup_exact(d).select("doc_id")


@query(
    "dedup_jaccard_pairs",
    f"""
    WITH {_UNIGRAM_COMMON}
    SELECT id_a, id_b,
           ROUND(common / (sa.set_size + sb.set_size - common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE common / (sa.set_size + sb.set_size - common) >= 0.8
    """,
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by unigram Jaccard ≥ 0.8 (inverted-index self-join;
    the exact baseline the MinHash path approximates)."""
    d = load_table(spark, sf_dir, "documents")
    return D.jaccard_pairs(d, n=1, threshold=0.8)


# Jaccard >= 0.9 pairs over those CTEs and their connected components:
# every paired doc with each label reachable from it (reach: id, lbl)
_COMPONENTS_09 = """pairs AS (
        SELECT id_a, id_b FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE common / (sa.set_size + sb.set_size - common) >= 0.9
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, lbl) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
    )"""
_PAIRS_09_SQL = f"""
    WITH RECURSIVE {_UNIGRAM_COMMON},
    {_COMPONENTS_09}
"""


@query(
    "dedup_near_groups",
    _PAIRS_09_SQL
    + """
    SELECT id, MIN(lbl) AS group_id FROM reach GROUP BY id
    """,
)
def dedup_near_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over Jaccard≥0.9 near-dup pairs: every paired
    doc labeled with the min id reachable through the pair graph
    (hash-to-min label propagation; the oracle is a recursive CTE
    computing the same transitive closure)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(d, n=1, threshold=0.9)
    return D.near_dup_groups(pairs)


@query(
    "dedup_near_survivors",
    _PAIRS_09_SQL
    + """
    SELECT d.doc_id FROM documents d
    LEFT JOIN (SELECT id, MIN(lbl) AS group_id FROM reach GROUP BY id) g
      ON g.id = d.doc_id
    WHERE g.id IS NULL OR g.group_id = d.doc_id
    """,
)
def dedup_near_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: documents surviving Jaccard≥0.9 cluster
    removal (min-id representative per component; unpaired docs kept)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(d, n=1, threshold=0.9)
    return D.dedup_survivors(d, pairs).select("doc_id")


def _minhash_prefix(num_hashes: int, bands: int) -> str:
    """Shared DuckDB CTE chain words→grams→sh→sig→banded replicating
    `ops/dedup.py` minhash_signatures + _band_rows bit-for-bit (the
    portable md5 hash family makes this possible)."""
    from hudi_utility_spark.ops import phash

    rpb = num_hashes // bands
    hi, lo = phash.sql_parts("s")
    mins = ",\n               ".join(
        f"MIN({phash.sql_family('hi', 'lo', i)}) AS h{i}"
        for i in range(num_hashes)
    )
    band_rows = "\n        UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {h} AS band_hash FROM sig".format(
            b=b,
            h=phash.sql_hash64(
                "concat("
                + ", ',', ".join(
                    f"CAST(h{b * rpb + r} AS VARCHAR)" for r in range(rpb)
                )
                + ")"
            ),
        )
        for b in range(bands)
    )
    return f"""
    words AS (
        SELECT doc_id, w, ord FROM (
            SELECT doc_id,
                   unnest(string_split({_NORM_SQL}, ' ')) AS w,
                   generate_subscripts(string_split({_NORM_SQL}, ' '), 1) AS ord
            FROM documents)
    ),
    grams AS (
        SELECT doc_id, concat(w, ' ', nxt) AS s FROM (
            SELECT doc_id, w,
                   lead(w) OVER (PARTITION BY doc_id ORDER BY ord) AS nxt
            FROM words)
        WHERE nxt IS NOT NULL
    ),
    sh AS (
        SELECT DISTINCT doc_id, {hi} AS hi, {lo} AS lo FROM grams
    ),
    sig AS (
        SELECT doc_id, {mins}
        FROM sh GROUP BY doc_id
    ),
    banded AS (
        {band_rows}
    )"""


def _minhash_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    """Full MinHash+LSH pipeline in DuckDB — bigram shingles, the
    portable md5 universal-hash family (`ops/phash.py`), banded
    candidate join, signature-match verification. Possible at all
    because every hash is md5-derived; the r2 xxhash64 version had no
    oracle."""
    matches = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return f"""
    WITH {_minhash_prefix(num_hashes, bands)},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           ROUND(({matches}) / {num_hashes}, 6) AS est_jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b
    WHERE ({matches}) / {num_hashes} >= 0.5
    """


def _incremental_minhash_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    """Incremental near-dup gate in DuckDB: batch = odd doc_ids probed
    against the corpus (even doc_ids) band store, plus the within-batch
    lower-id rule — the exact semantics of `ops/dedup.py`
    incremental_minhash."""
    return f"""
    WITH {_minhash_prefix(num_hashes, bands)},
    cb AS (SELECT * FROM banded WHERE doc_id % 2 = 0),
    bb AS (SELECT * FROM banded WHERE doc_id % 2 = 1),
    hit AS (
        SELECT DISTINCT b.doc_id FROM bb b
        JOIN cb c ON b.band = c.band AND b.band_hash = c.band_hash
        UNION
        SELECT DISTINCT hi.doc_id FROM bb hi
        JOIN bb lo ON hi.band = lo.band AND hi.band_hash = lo.band_hash
                  AND lo.doc_id < hi.doc_id
    )
    SELECT d.doc_id, d.lang FROM documents d
    WHERE d.doc_id % 2 = 1 AND d.doc_id NOT IN (SELECT doc_id FROM hit)
    """


@query("dedup_incremental_minhash", _incremental_minhash_oracle())
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest NEAR-dup gate (ops/dedup.py
    `incremental_minhash`): the odd-id half of the corpus arrives as a
    batch and is admitted only if it collides with no LSH band of the
    even-id corpus' persisted band store (`minhash_bands` — the (band,
    band_hash, id) index that replaces storing text or signatures) nor
    with a lower-id batch document. The approximate twin of
    `dedup_incremental_batch`, catching near-copies exact fingerprints
    miss; the oracle replays signatures, banding, and both probes."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    store = D.minhash_bands(corpus)
    return D.incremental_minhash(batch, store).select("doc_id", "lang")


@query("dedup_minhash_lsh", _minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (banded signatures). Hash-checked
    against a full DuckDB replica of the pipeline since r3 — the
    portable md5 hash family made the r2 rows-only check obsolete;
    pytest additionally cross-validates candidates against exact
    Jaccard."""
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(d, num_hashes=32, bands=8, shingle_n=2, threshold=0.5)


def _simhash_oracle(bits: int = 64, max_distance: int = 3, prefix_bits: int = 16) -> str:
    """SimHash near-pairs in DuckDB: portable word hashes, 64 majority
    bits, rotation blocking, xor/bit_count verification. Signed masks
    are emitted as Python-computed 64-bit values (bit 63 = -2^63) so
    both engines agree without overflow tricks."""
    from hudi_utility_spark.ops import phash

    def mask(i: int) -> int:
        return (1 << i) if i < bits - 1 else -(1 << (bits - 1))

    bit_sums = ",\n               ".join(
        f"SUM(CASE WHEN (h & CAST({mask(i)} AS BIGINT)) <> 0 THEN 1 ELSE 0 END) AS b{i}"
        for i in range(bits)
    )
    sig_terms = "\n             + ".join(
        f"CASE WHEN 2 * b{i} > n THEN CAST({mask(i)} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i in range(bits)
    )
    rotations = ",".join(f"({r})" for r in range(bits // prefix_bits))
    pmask = (1 << prefix_bits) - 1
    return f"""
    WITH words AS (
        SELECT DISTINCT doc_id, w FROM (
            SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS w
            FROM documents)
    ),
    wh AS (
        SELECT doc_id, {phash.sql_hash64('w')} AS h FROM words
    ),
    cnt AS (
        SELECT doc_id, COUNT(*) AS n,
               {bit_sums}
        FROM wh GROUP BY doc_id
    ),
    sig AS (
        SELECT doc_id,
               ({sig_terms}) AS simhash
        FROM cnt
    ),
    rots AS (
        SELECT doc_id, simhash, r.rot,
               (simhash >> (r.rot * {prefix_bits})) & {pmask} AS prefix
        FROM sig, (VALUES {rotations}) r(rot)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS distance
    FROM rots a JOIN rots b
      ON a.rot = b.rot AND a.prefix = b.prefix AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_distance}
    """


@query("dedup_simhash", _simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3 under rotation blocking).
    Hash-checked against a full DuckDB replica since r3 (portable md5
    word hashes); pytest validates identical/disjoint behavior."""
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_near_pairs(d, max_distance=3)


@query(
    "dedup_embedding_cosine",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
               AS score
    FROM embeddings a JOIN embeddings b
      ON a.vec_id < b.vec_id AND a.label = b.label
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs blocked by cluster label — the SemDeDup
    shape: cluster first, near-dup within cells. Production near-dup runs
    at ≥0.9; the synthetic embeddings are random (within-label max cosine
    ≈0.47), so the query uses 0.4 to exercise the operator on a non-empty
    answer (nearest boundary values are ±0.007 away — safe from float
    rounding flips in the oracle comparison)."""
    from hudi_utility_spark.ops.similarity import cosine_near_pairs

    e = load_table(spark, sf_dir, "embeddings")
    return cosine_near_pairs(e, threshold=0.4, block_col="label")


@query(
    "dedup_incremental_batch",
    f"""
    WITH corpus AS (
        SELECT * FROM documents WHERE doc_id % 3 <> 0
    ),
    batch AS (
        SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text, lang FROM documents
        WHERE doc_id % 3 <> 0 AND doc_id % 7 = 0
    ),
    store AS (SELECT DISTINCT md5({_NORM_SQL}) AS fp FROM corpus),
    bfp AS (
        SELECT doc_id, lang, md5({_NORM_SQL}) AS fp FROM batch
    ),
    fresh AS (
        SELECT * FROM bfp WHERE fp NOT IN (SELECT fp FROM store)
    )
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM fresh
    ) WHERE rn = 1
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup: a new batch (every third doc, plus
    re-keyed copies of corpus docs that MUST be rejected) admitted
    against the existing corpus' fingerprint store — anti-join on the
    content fingerprint, then min-id within-batch dedup
    (ops/dedup.py `dedup_incremental`)."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 3 != 0)
    batch = (
        d.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text", "lang")
        .unionByName(
            corpus.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang"
            )
        )
    )
    return D.dedup_incremental(batch, corpus=corpus).select("doc_id", "lang")


@query(
    "dedup_containment_pairs",
    f"""
    WITH {_TRIGRAM_COMMON}
    SELECT id_a, id_b,
           ROUND(common / sa.set_size, 6) AS containment
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    WHERE common >= ceil(0.6 * sa.set_size)
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment near-dup pairs over word trigrams
    (|A∩B|/|A| ≥ 0.6): the asymmetric detector for quote-embedding and
    boilerplate-wrapped duplicates that symmetric Jaccard misses — a
    short doc quoted inside a long one has high containment, low
    Jaccard (ops/dedup.py `containment_pairs` — asymmetric prefix
    filter, integer-exact threshold compare, measured broadcast
    dispatch)."""
    d = load_table(spark, sf_dir, "documents")
    return D.containment_pairs(d, n=3, threshold=0.6)


@query(
    "dedup_containment_survivors",
    f"""
    WITH {_TRIGRAM_COMMON},
    contained AS (
        SELECT DISTINCT id_a FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        WHERE common >= ceil(0.6 * sa.set_size)
          AND id_a > id_b
    )
    SELECT doc_id, lang FROM documents
    WHERE doc_id NOT IN (SELECT id_a FROM contained)
    """,
)
def dedup_containment_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus after containment dedup: drop every document that is
    ≥0.6-contained in a LOWER-id document (deterministic keep-first
    policy; ties impossible since the relation is directed), keep
    everything else — the quote/boilerplate-collapse pass run after
    symmetric dedup. Same left-anti shape as the near-dup survivor
    op: the drop list is bounded by the pair relation, never corpus²."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.containment_pairs(d, n=3, threshold=0.6)
    drops = (
        pairs.filter(F.col("id_a") > F.col("id_b"))
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
        .persist()
    )
    # materialize the drop list once (the anti-join would compute it
    # anyway) so its measured size picks the join strategy: broadcast
    # keeps the corpus side un-exchanged; the shuffle anti-join remains
    # the fallback for a pathological everyone-contained corpus
    right = F.broadcast(drops) if drops.count() <= 20_000_000 else drops
    return d.join(right, "doc_id", "left_anti").select("doc_id", "lang")


@query(
    "dedup_cluster_size_histogram",
    _PAIRS_09_SQL
    + """
    , comp AS (SELECT id, MIN(lbl) AS group_id FROM reach GROUP BY id),
    csizes AS (SELECT group_id, COUNT(*) AS cluster_size
               FROM comp GROUP BY group_id)
    SELECT cluster_size, COUNT(*) AS clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS docs
    FROM csizes GROUP BY cluster_size ORDER BY cluster_size
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution — the corpus-health readout of
    a dedup pass (a long tail of giant clusters means boilerplate or
    templated spam; mostly-pairs means organic duplication). Three keyed
    aggregates over the already-computed component labels; the
    histogram is |distinct sizes| rows, collect-safe at any scale."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(d, n=1, threshold=0.9)
    comp = D.near_dup_groups(pairs)
    sizes = comp.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("clusters"))
        .select(
            "cluster_size",
            "clusters",
            (F.col("cluster_size") * F.col("clusters"))
            .cast("long")
            .alias("docs"),
        )
        .orderBy("cluster_size")
    )


@query(
    "dedup_threshold_curve",
    f"""
    WITH {_UNIGRAM_COMMON},
    sims AS (
        SELECT common / (sa.set_size + sb.set_size - common) AS sim
        FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE common / (sa.set_size + sb.set_size - common) >= 0.6
    )
    SELECT CAST(floor(ROUND(sim, 6) * 10) AS INT) AS sim_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM sims GROUP BY 1
    """,
)
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold operating curve: pair volume per Jaccard
    decile above 0.6 — the calibration readout for choosing a dedup
    threshold (the knee where volume explodes marks where 'duplicate'
    stops meaning anything). One candidate-pair relation, one
    curve-sized aggregate; decile binning is a single float floor,
    identical in both engines."""
    from hudi_utility_spark.ops import dedup as D2

    d = load_table(spark, sf_dir, "documents")
    pairs = D2.jaccard_pairs(d, n=1, threshold=0.6)
    # bin on the ROUNDED similarity on BOTH engines (the op's jaccard
    # column is round(raw, 6)) so a raw value a hair under a decile
    # boundary cannot bin differently across engines
    return (
        pairs.select(F.floor(F.col("jaccard") * 10).cast("int").alias("sim_decile"))
        .groupBy("sim_decile")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "dedup_semdedup",
    """
    WITH """ + _IVF_CENTS + """,
    assigned AS (
        SELECT vec_id, v, cell AS cluster FROM (
            SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND(list_cosine_similarity(
                           e.embedding::DOUBLE[], c.centroid), 6) DESC, c.cell
                   ) AS rn
            FROM embeddings e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    drops AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a JOIN assigned b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.4
    )
    SELECT s.vec_id, s.cluster
    FROM assigned s LEFT JOIN drops d ON s.vec_id = d.vec_id
    WHERE d.vec_id IS NULL
    """,
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end (Abbas et al. 2023): per-label mean
    centroids (the k-means step), cosine REASSIGNMENT of every vector
    to its nearest centroid, then keep-first removal of epsilon-ball
    neighbors WITHIN each cluster — the canonical semantic-dedup recipe
    at the canonical scale shape (cluster first so the near-dup join is
    per-cluster quadratic, never global). Threshold 0.4 per the
    `dedup_embedding_cosine` margin analysis on these synthetic
    embeddings (ops/dedup.py semdedup)."""
    from hudi_utility_spark.ops.dedup import semdedup

    e = load_table(spark, sf_dir, "embeddings")
    return semdedup(e, threshold=0.4)


def _minhash_calibration_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    """Estimated-vs-exact Jaccard over the banded candidates: signature
    agreement fraction next to the true shingle-set Jaccard (set ops as
    joins over the sh relation — the same rows the signatures minimize
    over, so the comparison is apples-to-apples)."""
    matches = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return f"""
    WITH {_minhash_prefix(num_hashes, bands)},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    ),
    est AS (
        SELECT c.id_a, c.id_b,
               ({matches}) / CAST({num_hashes} AS DOUBLE) AS est_j
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, COUNT(b.doc_id) AS ic
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        LEFT JOIN sh b ON b.doc_id = c.id_b
                      AND b.hi = a.hi AND b.lo = a.lo
        GROUP BY c.id_a, c.id_b
    ),
    scored AS (
        SELECT e.est_j,
               i.ic / CAST(za.sz + zb.sz - i.ic AS DOUBLE) AS exact_j
        FROM est e
        JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
        JOIN sizes za ON za.doc_id = e.id_a
        JOIN sizes zb ON zb.doc_id = e.id_b
    )
    SELECT CAST(floor(est_j * 8) AS INTEGER) AS est_octile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(est_j), 6) AS avg_est,
           ROUND(AVG(exact_j), 6) AS avg_exact
    FROM scored GROUP BY 1
    """


@query("dedup_minhash_calibration", _minhash_calibration_oracle())
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash accuracy calibration: for every banded-LSH candidate
    pair, the signature-agreement estimate (matching components / k)
    next to the TRUE shingle-set Jaccard, bucketed by estimate octile —
    the empirical curve that validates the (k, bands) parameter choice
    before a threshold is trusted at corpus scale (E[estimate] =
    Jaccard, variance ~ J(1-J)/k; a bucket whose avg_exact drifts from
    avg_est means k is too small for the operating threshold). Exact
    sets are computed ONLY for candidates (the bounded pair set), via
    the same shingle relation the signatures minimize over; set
    intersection is a join, never an all-pairs pass."""
    d = load_table(spark, sf_dir, "documents")
    sig = D.minhash_signatures(d, num_hashes=32, shingle_n=2)
    banded = D._band_rows(sig, 32, 8)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sa = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("siga"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sigb"))
    est = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.aggregate(
                    F.zip_with(
                        "siga", "sigb", lambda x, y: (x == y).cast("int")
                    ),
                    F.lit(0),
                    lambda acc, v: acc + v,
                )
                / F.lit(float(32))
            ).alias("est_j"),
        )
    )
    sh = D._shingles(d, "doc_id", "text", 2).select("id", "hi", "lo")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    sha = sh.select(F.col("id").alias("id_a"), "hi", "lo")
    shb = sh.select(F.col("id").alias("id_b"), "hi", "lo")
    inter = (
        cand.join(sha, "id_a")
        .join(shb, ["id_b", "hi", "lo"], "left_semi")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("ic"))
    )
    # left join: a candidate pair with zero shared shingles (band-hash
    # collision) must survive with intersection 0, not vanish
    scored = (
        est.join(inter, ["id_a", "id_b"], "left")
        .fillna({"ic": 0})
        .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sza"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "szb"), "id_b")
        .select(
            "est_j",
            (
                F.col("ic")
                / (F.col("sza") + F.col("szb") - F.col("ic")).cast("double")
            ).alias("exact_j"),
        )
    )
    return (
        scored.groupBy(
            F.floor(F.col("est_j") * 8).cast("int").alias("est_octile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("est_j"), 6).alias("avg_est"),
            F.round(F.avg("exact_j"), 6).alias("avg_exact"),
        )
    )
