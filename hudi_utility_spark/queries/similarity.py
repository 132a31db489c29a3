"""Oracle-checked similarity-search queries over the embeddings table.

The query vector is embeddings[vec_id=0], referenced from the table itself
so Spark and DuckDB score the identical vector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.ops import similarity as S
from hudi_utility_spark.queries import query
from hudi_utility_spark.tables import load_table


# per-cell IVF centroids (mean embedding per label): the CTE pair the
# IVF oracles build on
_IVF_CENTS = """dims AS (
        SELECT label AS cell, d.i AS dim, AVG(d.v) AS mean_v
        FROM embeddings,
             LATERAL (SELECT unnest(embedding::DOUBLE[]) AS v,
                             generate_subscripts(embedding, 1) AS i) d
        GROUP BY label, d.i
    ),
    cents AS (
        SELECT cell, list(mean_v ORDER BY dim) AS centroid FROM dims GROUP BY cell
    )"""
# ... plus every vector's nearest centroid cell (ties to the lower cell)
_IVF_ASSIGNED = _IVF_CENTS + """,
    assigned AS (
        SELECT e.vec_id, e.label, e.embedding::DOUBLE[] AS v,
               (SELECT c.cell FROM cents c
                ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                                       c.centroid), 6) DESC,
                         c.cell
                LIMIT 1) AS cell
        FROM embeddings e
    )"""


# exact cosine top-10 of vec 0, shared by the HOF and Arrow brute-force arms
_BRUTE_TOPK_ORACLE = """
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS score
    FROM embeddings e,
         (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
    ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC, e.vec_id
    LIMIT 10
    """


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    e = load_table(spark, sf_dir, "embeddings")
    return list(e.filter(F.col("vec_id") == 0).select("embedding").first()[0])


@query(
    "sim_bruteforce_topk",
    _BRUTE_TOPK_ORACLE,
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of vec 0 — the ANN correctness
    baseline (brute force, TakeOrdered top-k)."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(e, _query_vec(spark, sf_dir), k=10)


@query(
    "sim_ivf_centroid_ranking",
    """
    WITH """ + _IVF_CENTS + """,
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT cell, ROUND(list_cosine_similarity(centroid, qv), 6) AS score
    FROM cents, q
    """,
)
def sim_ivf_centroid_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantizer: per-cell centroids scored against the query —
    the cell-ranking step that prunes the search space."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = S.ivf_centroids(e)
    q = F.array(*[F.lit(x) for x in _query_vec(spark, sf_dir)])
    return cents.select(
        "cell", F.round(S.cosine(F.col("centroid"), q), 6).alias("score")
    )


@query(
    "sim_ivf_topk",
    """
    WITH """ + _IVF_CENTS + """,
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    probed AS (
        SELECT cell FROM cents, q
        ORDER BY list_cosine_similarity(centroid, qv) DESC, cell
        LIMIT 3
    )
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS score
    FROM embeddings e JOIN probed p ON e.label = p.cell, q
    ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC, e.vec_id
    LIMIT 10
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k (probe 3 of 10 cells, exact within). Approximate only
    relative to the TRUE neighbors (pytest pins recall ≥ 0.5 vs brute
    force); the computation itself is deterministic — centroid ranking
    has a total order (score desc, cell asc) — so the full pipeline is
    SQL-expressible and hash-checked against the unrolled DuckDB oracle
    (was rows-only in r2)."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.ivf_topk(e, _query_vec(spark, sf_dir), k=10, nprobe=3)


def _sketch_sql(planes: int, dim: int) -> str:
    """Hyperplane sketch of ``v`` in DuckDB: the ±1 plane components
    come from the same `plane_component` derivation the Spark operator
    uses (md5 of a public tag — shared Python, embedded as literals),
    and each projection is written as the identical left-associated sum,
    so the doubles agree bit-for-bit."""
    projs = []
    for p in range(planes):
        terms = " + ".join(
            f"v[{d + 1}] * {S.plane_component(p, d)}" for d in range(dim)
        )
        projs.append(
            f"CASE WHEN (0.0 + {terms}) >= 0 THEN CAST({1 << p} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
        )
    sketch = "\n             + ".join(projs)
    return sketch


def _sketch_oracle(planes: int = 16, dim: int = 64) -> str:
    """Hyperplane-sketch histogram in DuckDB (see `_sketch_sql`)."""
    sketch = _sketch_sql(planes, dim)
    return f"""
    WITH vecs AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    )
    SELECT sketch, COUNT(*) AS n_vecs FROM (
        SELECT ({sketch}) AS sketch FROM vecs
    ) GROUP BY sketch
    """


@query("sim_lsh_sketch_buckets", _sketch_oracle())
def sim_lsh_sketch_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH sketch histogram. The md5-derived plane
    components (ops/similarity.py `plane_component`) are engine-
    reproducible, so since r3 the histogram is hash-checked against a
    DuckDB oracle evaluating the identical fold (r2's xxhash64 planes
    were Spark-only → rows-only)."""
    e = load_table(spark, sf_dir, "embeddings")
    sk = S.random_hyperplane_sketch(e, planes=16)
    return sk.groupBy("sketch").agg(F.count(F.lit(1)).alias("n_vecs"))


def _kmeans_oracle(k: int = 8, iters: int = 3) -> str:
    """Unrolled-Lloyd DuckDB oracle: k-means with fixed iteration count
    and deterministic init (k lowest-id vectors) is a finite dataflow,
    so each (assign, update) round becomes a CTE pair — upgrading the
    r2 rows-only check to a full hash check. Ties and empty clusters
    follow ops/cluster.py exactly: argmin breaks toward the lower cid,
    an empty cluster keeps its previous centroid."""
    parts = [
        f"""
    WITH emb AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    c0 AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
               v AS c
        FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT {k})
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
    a{i} AS (
        SELECT vec_id, v, cid FROM (
            SELECT e.vec_id, e.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY list_distance(e.v, c.c), c.cid) AS rn
            FROM emb e CROSS JOIN c{i - 1} c
        ) WHERE rn = 1
    ),
    m{i} AS (
        SELECT cid, list(mean_v ORDER BY dim) AS c FROM (
            SELECT a.cid, d.i AS dim, AVG(d.v) AS mean_v
            FROM a{i} a,
                 LATERAL (SELECT unnest(a.v) AS v,
                                 generate_subscripts(a.v, 1) AS i) d
            GROUP BY a.cid, d.i
        ) GROUP BY cid
    ),
    c{i} AS (
        SELECT c{i - 1}.cid, COALESCE(m{i}.c, c{i - 1}.c) AS c
        FROM c{i - 1} LEFT JOIN m{i} ON c{i - 1}.cid = m{i}.cid
    )"""
        )
    parts.append(
        f""",
    final_assign AS (
        SELECT vec_id, v, cid FROM (
            SELECT e.vec_id, e.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY list_distance(e.v, c.c), c.cid) AS rn
            FROM emb e CROSS JOIN c{iters} c
        ) WHERE rn = 1
    )
    SELECT a.cid AS cluster, COUNT(*) AS n_members,
           ROUND(AVG(pow(list_distance(a.v, c.c), 2)), 4) AS mean_sq_dist
    FROM final_assign a JOIN c{iters} c ON a.cid = c.cid
    GROUP BY a.cid
    ORDER BY a.cid"""
    )
    return "".join(parts)


@query("cluster_kmeans_profile", _kmeans_oracle(k=8, iters=3))
def cluster_kmeans_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned coarse quantizer: 8 clusters, 3 Lloyd iterations,
    deterministic init (8 lowest-id vectors); per-cluster membership and
    mean within-cluster squared distance. Assignment is map-only
    (centroid literal evaluated in codegen); update is one shuffle of
    k×dim partial means per iteration. Fixed iteration count makes the
    whole fit a finite dataflow, so it is hash-checked against an
    unrolled-Lloyd DuckDB oracle (was rows-only in r2); pytest
    additionally pins exact parity with a NumPy reference."""
    from hudi_utility_spark.ops import cluster as cl

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return cl.kmeans_cluster_profile(emb, k=8, iters=3)


def _pq_oracle(
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    nprobe: int | None = None,
    final: str | None = None,
) -> str:
    """Unrolled PQ-ADC DuckDB oracle: per subspace, the same fixed-
    iteration Lloyd CTE chain as `_kmeans_oracle` (init = k lowest-id
    subvectors, lower-cid ties, empty clusters keep their centroid),
    then code assignment and the asymmetric distance sum against the
    vec-0 query. Deterministic end to end, so the full PQ pipeline is
    value-hash checked. With ``nprobe`` the final scan is restricted to
    the query's nprobe nearest label cells (the IVF-PQ composition —
    same cells CTEs as the `sim_ivf_topk` oracle)."""
    sub = dim // m
    parts = [
        """
    WITH emb AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    )"""
    ]
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        parts.append(
            f""",
    s{s} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM emb),
    s{s}_c0 AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
               v AS c
        FROM (SELECT vec_id, v FROM s{s} ORDER BY vec_id LIMIT {k})
    )"""
        )
        for i in range(1, iters + 1):
            parts.append(
                f""",
    s{s}_a{i} AS (
        SELECT vec_id, v, cid FROM (
            SELECT e.vec_id, e.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY list_distance(e.v, c.c), c.cid) AS rn
            FROM s{s} e CROSS JOIN s{s}_c{i - 1} c
        ) WHERE rn = 1
    ),
    s{s}_m{i} AS (
        SELECT cid, list(mean_v ORDER BY dim) AS c FROM (
            SELECT a.cid, d.i AS dim, AVG(d.v) AS mean_v
            FROM s{s}_a{i} a,
                 LATERAL (SELECT unnest(a.v) AS v,
                                 generate_subscripts(a.v, 1) AS i) d
            GROUP BY a.cid, d.i
        ) GROUP BY cid
    ),
    s{s}_c{i} AS (
        SELECT s{s}_c{i - 1}.cid, COALESCE(s{s}_m{i}.c, s{s}_c{i - 1}.c) AS c
        FROM s{s}_c{i - 1} LEFT JOIN s{s}_m{i}
          ON s{s}_c{i - 1}.cid = s{s}_m{i}.cid
    )"""
            )
        parts.append(
            f""",
    s{s}_code AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY list_distance(e.v, c.c), c.cid) AS rn
            FROM s{s} e CROSS JOIN s{s}_c{iters} c
        ) WHERE rn = 1
    )"""
        )
    adc_terms = " + ".join(
        f"pow(list_distance(q.v[{s * sub + 1}:{(s + 1) * sub}], c{s}.c), 2)"
        for s in range(m)
    )
    joins = " ".join(
        f"JOIN s{s}_code k{s} ON e.vec_id = k{s}.vec_id "
        f"JOIN s{s}_c{iters} c{s} ON k{s}.cid = c{s}.cid"
        for s in range(m)
    )
    if final is not None:
        # caller supplies the final SELECT over emb + s{s}_code joins
        parts.append(final.replace("{JOINS}", joins))
        return "".join(parts)
    probe_ctes, probe_join = "", ""
    if nprobe is not None:
        probe_ctes = f""",
    cell_dims AS (
        SELECT label AS cell, d.i AS dim, AVG(d.vv) AS mean_v
        FROM emb, LATERAL (SELECT unnest(emb.v) AS vv,
                                  generate_subscripts(emb.v, 1) AS i) d
        GROUP BY label, d.i
    ),
    cents AS (
        SELECT cell, list(mean_v ORDER BY dim) AS centroid
        FROM cell_dims GROUP BY cell
    ),
    probed AS (
        SELECT cell FROM cents, (SELECT v FROM emb WHERE vec_id = 0) qq
        ORDER BY list_cosine_similarity(centroid, qq.v) DESC, cell
        LIMIT {nprobe}
    )"""
        probe_join = " JOIN probed p ON e.label = p.cell"
    parts.append(
        f"""{probe_ctes},
    q AS (SELECT v FROM emb WHERE vec_id = 0)
    SELECT e.vec_id, ROUND({adc_terms}, 4) AS adc
    FROM emb e {joins}{probe_join}, q
    ORDER BY ROUND({adc_terms}, 4), e.vec_id
    LIMIT 10"""
    )
    return "".join(parts)


@query("sim_pq_adc_topk", _pq_oracle(m=4, k=8, iters=2, dim=64))
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization + asymmetric distance (Jégou et al. 2011):
    4 subspaces × 8 centroids learned with 2 deterministic Lloyd
    iterations, vectors encoded as 4 codes, top-10 by ADC table lookup.
    The memory-compressed ANN scan path: per-row cost is 4 array
    lookups over literal distance tables instead of a 64-dim fold, and
    the codes relation is ~16× narrower than raw vectors. Fully
    deterministic → hash-checked against the unrolled DuckDB oracle."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    books = S.pq_fit(e, m=4, k=8, iters=2)
    return S.pq_adc_topk(e, books, _query_vec(spark, sf_dir), topk=10)


@query("sim_ivfpq_topk", _pq_oracle(m=4, k=8, iters=2, dim=64, nprobe=3))
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ composition (the FAISS IVFPQ shape): rank cells
    by centroid cosine, probe the top 3, then ADC-scan only the probed
    cells' PQ codes. Search cost = (probed fraction of corpus) × (m
    table lookups per row) — both knobs independent; at 100 TB the
    cell is the write-time partition key so the probe reads only its
    cells' files AND touches only code columns. Codebooks are trained
    corpus-wide (deterministic Lloyd), so the oracle unrolls training,
    cell ranking, and the restricted ADC scan in one statement."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    books = S.pq_fit(e.select("vec_id", "embedding"), m=4, k=8, iters=2)
    cents = S.ivf_centroids(e)
    q = F.array(*[F.lit(float(x)) for x in qv])
    probed = [
        r["cell"]
        for r in cents.select("cell", S.cosine(F.col("centroid"), q).alias("s"))
        .orderBy(F.desc("s"), F.asc("cell"))
        .limit(3)
        .collect()
    ]
    sub = e.filter(F.col("label").isin(probed)).select("vec_id", "embedding")
    return S.pq_adc_topk(sub, books, qv, topk=10)


@query(
    "sim_centroid_outliers",
    """
    WITH mu AS (
        SELECT label, t.i AS i, AVG(CAST(embedding[t.i] AS DOUBLE)) AS m
        FROM embeddings, range(1, 65) t(i)
        GROUP BY label, t.i
    ),
    parts AS (
        SELECT e.vec_id, e.label,
               SUM(CAST(e.embedding[mu.i] AS DOUBLE) * mu.m) AS dp,
               SQRT(SUM(CAST(e.embedding[mu.i] AS DOUBLE)
                        * CAST(e.embedding[mu.i] AS DOUBLE))) AS na,
               SQRT(SUM(mu.m * mu.m)) AS nb
        FROM embeddings e JOIN mu ON e.label = mu.label
        GROUP BY e.vec_id, e.label
    )
    SELECT vec_id, label, ROUND(dp / (na * nb), 6) AS cos_centroid
    FROM parts
    """,
)
def sim_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic outlier scoring: cosine of each embedding to its label's
    mean vector (ops/similarity.py `centroid_scores`). One hash aggregate
    builds all 64 centroid components (no explode, no long-relation
    shuffle), the (labels × dim) centroid table broadcasts back, and the
    per-row cosine is a fused HOF fold. The oracle rebuilds the same
    centroids positionally and must agree to 6 decimals."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.centroid_scores(e, dim=64)


@query(
    "sim_bruteforce_topk_arrow",
    _BRUTE_TOPK_ORACLE,
)
def sim_bruteforce_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALAR pandas_udf arm of the UDF matrix: exact cosine top-10
    via one NumPy matmul per Arrow batch (ops/similarity.py
    `brute_force_topk_arrow`), sharing the fused-HOF query's oracle —
    both paths must produce identical neighbors and scores."""
    e = load_table(spark, sf_dir, "embeddings")
    q = [r[0] for r in e.filter(F.col("vec_id") == 0).select(F.explode("embedding")).collect()]
    return S.brute_force_topk_arrow(e, q, k=10)


@query(
    "sim_hard_negatives",
    """
    WITH """ + _IVF_ASSIGNED + """
    SELECT anchor_id, neg_id, anchor_label, neg_label, score FROM (
      SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
             a.label AS anchor_label, b.label AS neg_label,
             ROUND(list_cosine_similarity(a.v, b.v), 6) AS score,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.vec_id
             ) AS rn
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.label <> b.label
    ) WHERE rn = 1
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (ops/similarity.py `hard_negatives`): each
    vector's most-similar DIFFERENT-label neighbor within its IVF cell
    — the contrastive-loss pair miner, SCALE ARM. Candidates come from
    a cell-equality equijoin (`assign_cells` nearest-centroid blocking,
    map-only literal argmax), so pair count is Σ|cell|² not n² — the
    bucketed-join discipline every similarity operator uses. The exact
    all-pairs arm stays a pytest baseline
    (test_hard_negatives_exact_and_blocked), like cosine_near_pairs'
    small-table arm. The oracle replays the identical round-6 ranked
    assignment, so the plan is fully hash-checked."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.hard_negatives(S.assign_cells(e), k=1, block_col="cell")


@query(
    "sim_eval_decontaminate",
    """
    WITH ev AS (
        SELECT embedding FROM embeddings
        WHERE vec_id % 97 = 0 AND vec_id < 970000
    ),
    scored AS (
        SELECT c.vec_id,
               MAX(list_cosine_similarity(c.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[])) AS m
        FROM embeddings c CROSS JOIN ev e
        WHERE NOT (c.vec_id % 97 = 0 AND c.vec_id < 970000)
        GROUP BY c.vec_id
    )
    SELECT vec_id, ROUND(m, 6) AS max_eval_cos,
           m >= 0.3 AS contaminated
    FROM scored
    """,
)
def sim_eval_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination (ops/similarity.py
    `embedding_decontaminate`): corpus rows whose max cosine against
    any eval-set vector reaches the threshold are flagged — catches
    paraphrased eval leakage that the exact n-gram `text_decontaminate`
    can't see. The eval slice (vec_id % 97, capped below id 970k — at
    most 10k vectors at ANY scale factor, safely under
    embedding_decontaminate's 20k literal-form guard, so growing the
    embeddings table can never turn this registered query into a
    self-inflicted ValueError) re-enters the plan as one array
    literal, so the Spark side is a map-only codegen'd HOF fold: zero
    shuffle, zero Python; MAX is order-independent, so the oracle
    replays it exactly. Threshold 0.3 sits ≥8e-4 from the nearest data
    value at sf0.01 — safe from float-rounding membership flips."""
    e = load_table(spark, sf_dir, "embeddings")
    is_eval = (F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 970_000)
    ev = e.filter(is_eval)
    corpus = e.filter(~is_eval)
    return S.embedding_decontaminate(corpus, ev, 0.3).select(
        "vec_id", "max_eval_cos", "contaminated"
    )


def _mmr_oracle(k: int = 4, pool: int = 15, lam: float = 0.7) -> str:
    """Unrolled greedy-MMR oracle: one CTE pair per selection step.

    The float constants are emitted via repr() so DuckDB parses the
    bit-identical doubles the Spark/NumPy side multiplies with
    (1.0 - 0.7 is 0.30000000000000004, not 0.3).
    """
    l, m = repr(lam), repr(1.0 - lam)
    ctes = [
        "q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)",
        f"""pool AS (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
               list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS rel
        FROM embeddings e, q ORDER BY rel DESC, e.vec_id LIMIT {pool})""",
        f"""c1 AS (SELECT vec_id, v, rel, {l}*rel AS mmr
               FROM pool ORDER BY rel DESC, vec_id LIMIT 1)""",
    ]
    for i in range(2, k + 1):
        prev_v = " UNION ALL ".join(f"SELECT v FROM c{j}" for j in range(1, i))
        prev_id = " UNION ALL ".join(
            f"SELECT vec_id FROM c{j}" for j in range(1, i)
        )
        ctes.append(
            f"""r{i} AS (
            SELECT p.vec_id, p.v, p.rel,
                   {l}*p.rel - {m}*(SELECT MAX(list_cosine_similarity(p.v, s.v))
                                    FROM ({prev_v}) s) AS mmr
            FROM pool p WHERE p.vec_id NOT IN ({prev_id}))""",
        )
        ctes.append(
            f"c{i} AS (SELECT vec_id, v, rel, mmr FROM r{i} "
            "ORDER BY mmr DESC, vec_id LIMIT 1)"
        )
    sel = "\n    UNION ALL ".join(
        f"SELECT {i} AS rnk, vec_id, ROUND(rel, 6) AS rel, "
        f"ROUND(mmr, 6) AS mmr FROM c{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + sel


@query("sim_mmr_rerank", _mmr_oracle())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-diversify: exact cosine top-15 pool (distributed,
    one scan + TakeOrderedAndProject) then greedy Maximal Marginal
    Relevance picks 4 results trading relevance against redundancy
    (lambda=0.7). The oracle unrolls the greedy loop as one CTE pair
    per selection — both engines must agree on every pick AND both
    scores. The rerank pool is a constant-size window, so stage 2 cost
    is independent of corpus size."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.mmr_rerank(e, _query_vec(spark, sf_dir), k=4, pool=15, lam=0.7)


def _jl_oracle(d_in: int = 64, d_out: int = 16) -> str:
    """Projection oracle with the identical literal sign matrix."""
    R = S.jl_sign_matrix(d_in, d_out)
    scale = repr(1.0 / (d_out**0.5))

    def proj(expr: str) -> str:
        comps = ", ".join(
            "list_dot_product(%s, [%s]) * %s"
            % (expr, ", ".join(f"{s}.0" for s in R[j]), scale)
            for j in range(d_out)
        )
        return f"[{comps}]"

    p = proj("e.embedding::DOUBLE[]")
    qp = proj("q.embedding::DOUBLE[]")
    return f"""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    pr AS (SELECT e.vec_id, {p} AS pp, {qp} AS qp FROM embeddings e, q)
    SELECT vec_id, ROUND(list_cosine_similarity(pp, qp), 6) AS score
    FROM pr
    ORDER BY list_cosine_similarity(pp, qp) DESC, vec_id
    LIMIT 10
    """


@query("sim_jl_projection_topk", _jl_oracle())
def sim_jl_projection_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss top-k: embeddings are projected 64 -> 16
    dims through a literal Rademacher sign matrix (map-only, fused
    codegen — the preprocessing that shrinks every downstream ANN
    distance, shuffle, and index by 4x at corpus scale), then cosine
    top-10 runs in the PROJECTED space. Both engines build the
    projection from the same literal matrix, so ranking and scores
    must agree exactly at 6 decimals."""
    e = load_table(spark, sf_dir, "embeddings")
    proj = S.jl_project(e, d_in=64, d_out=16)
    # query vector projected with the same sequential fold order
    R = S.jl_sign_matrix(64, 16)
    qv = _query_vec(spark, sf_dir)
    scale = 1.0 / (16**0.5)
    qp = []
    for j in range(16):
        acc = 0.0
        for i in range(64):
            acc = acc + float(qv[i]) * R[j][i]
        qp.append(acc * scale)
    return (
        proj.select(
            "vec_id",
            F.round(
                S.cosine(F.col("proj"), F.array(*[F.lit(x) for x in qp])), 6
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


@query(
    "sim_sq8_topk",
    """
    WITH mm AS (
        SELECT d, MIN(v) AS mn, MAX(v) AS mx FROM (
            SELECT generate_subscripts(embedding, 1) AS d,
                   unnest(embedding::DOUBLE[]) AS v
            FROM embeddings
        ) GROUP BY d
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    terms AS (
        SELECT e.vec_id,
               q.qv[m.d] * (CASE WHEN m.mx > m.mn
                   THEN m.mn + (least(floor((e.embedding[m.d]::DOUBLE - m.mn)
                                            * 256.0 / (m.mx - m.mn)), 255)
                                + 0.5) * ((m.mx - m.mn) / 256.0)
                   ELSE m.mn END) AS t
        FROM embeddings e, q, mm m
    ),
    scores AS (SELECT vec_id, SUM(t) AS score FROM terms GROUP BY vec_id)
    SELECT vec_id, ROUND(score, 6) AS score
    FROM scores ORDER BY score DESC, vec_id LIMIT 10
    """,
)
def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization ANN (FAISS SQ8 shape): per-dim 256-bin
    uniform quantizer fit on the corpus, asymmetric scoring of the
    full-precision query against bin-center reconstructions. The model
    is 2*dim scalars (plan literals); scoring is one fused dim-unrolled
    map expression + TakeOrdered — the memory-bound complement to
    PQ-ADC, value-checked down to the floor/least bin arithmetic."""
    e = load_table(spark, sf_dir, "embeddings")
    stats = S.sq8_stats(e)
    return S.sq8_topk(e, _query_vec(spark, sf_dir), stats, k=10)


def _kmpar_oracle(rounds: int = 3, l: int = 16, seed: str = "kmpar") -> str:
    """Unrolled k-means|| rounds: per round one min-d2 pass against the
    candidate relation, the ROUNDED potential, and the md5-coin
    selection — identical arithmetic to ops/cluster.py
    kmeans_parallel_init (candidate points have d2=0 and can never be
    re-selected, so no explicit dedup is needed). Round r >= 2 uses the
    PREVIOUS round's measured potential in the coin (the one-job-per-
    round df.observe scheme: phi is measured on the collect pass and
    consumed a round late — Bahmani-tolerated overestimate); the diag
    row still reports the potential MEASURED that round (p{r})."""
    parts = [
        """
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT 1)"""
    ]
    for r in range(1, rounds + 1):
        prev = f"c{r - 1}"
        coin_phi = f"p{max(r - 1, 1)}"
        parts.append(
            f""",
    d{r} AS (
        SELECT e.vec_id, e.v,
               (SELECT MIN(list_sum(list_transform(list_zip(e.v, c.v),
                                                   x -> (x[1] - x[2])^2)))
                FROM {prev} c) AS d2
        FROM emb e
    ),
    p{r} AS (SELECT ROUND(SUM(d2), 2) AS phi FROM d{r}),
    s{r} AS (
        SELECT d.vec_id, d.v
        FROM d{r} d, {coin_phi}
        WHERE ((CAST(concat('0x', substring(md5('{seed}:{r}:' ||
                     CAST(d.vec_id AS VARCHAR)), 1, 12)) AS UBIGINT) + 0.5)
               / 281474976710656.0) * {coin_phi}.phi < {float(l)!r} * d.d2
    ),
    c{r} AS (SELECT vec_id, v FROM {prev} UNION ALL SELECT vec_id, v FROM s{r})"""
        )
    sels = [
        "SELECT 0 AS rnd, CAST(1 AS BIGINT) AS n_new, CAST(1 AS BIGINT) AS n_total, 0.0 AS phi"
    ]
    for r in range(1, rounds + 1):
        sels.append(
            f"SELECT {r}, (SELECT COUNT(*) FROM s{r}), "
            f"(SELECT COUNT(*) FROM c{r}), (SELECT phi FROM p{r})"
        )
    return "".join(parts) + "\n    " + "\n    UNION ALL ".join(sels)


@query("cluster_kmeans_parallel_init", _kmpar_oracle(rounds=3, l=16))
def cluster_kmeans_parallel_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means|| oversampling rounds (Bahmani et al. 2012): the
    distributed half of scalable seeding — per-round candidate pulls
    under the deterministic md5 coin and the rounded potential — is
    value-hash-checked; the driver-side weighted farthest-first
    reduction to k centers is pinned by pytest against NumPy."""
    from hudi_utility_spark.ops.cluster import kmeans_parallel_init

    e = load_table(spark, sf_dir, "embeddings")
    centers, diag = kmeans_parallel_init(e, k=8, rounds=3, l=16)
    assert len(centers) == 8
    return spark.createDataFrame(
        diag, "rnd int, n_new bigint, n_total bigint, phi double"
    )


_PQ_GROUP_FINAL = """,
    codes AS (
        SELECT e.vec_id,
               concat(k0.cid, '-', k1.cid, '-', k2.cid, '-', k3.cid) AS code
        FROM emb e {JOINS}
    )
    SELECT code,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           MIN(vec_id) AS min_vec_id
    FROM codes GROUP BY code HAVING COUNT(*) > 1
"""


@query(
    "dedup_pq_code_groups",
    _pq_oracle(m=4, k=8, iters=2, dim=64, final=_PQ_GROUP_FINAL),
)
def dedup_pq_code_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse semantic-duplicate buckets via identical PQ codes: two
    vectors sharing all m codes are quantizer-indistinguishable — the
    zero-join, zero-pair-explosion first pass of embedding dedup (the
    SemDeDup bucket step with PQ cells instead of k-means cells).
    Codes are a map-only encode against literal codebooks; the group
    is one hash aggregate on the m-code key."""
    e = load_table(spark, sf_dir, "embeddings")
    books = S.pq_fit(e, m=4, k=8, iters=2)
    codes = S.pq_codes(e, books)
    code = F.concat_ws("-", *[F.col(f"code_{s}") for s in range(4)])
    return (
        codes.select("vec_id", code.alias("code"))
        .groupBy("code")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .filter(F.col("n_vectors") > 1)
    )


@query(
    "sim_recall_report",
    """
    WITH qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
    brute AS (
        SELECT e.vec_id FROM embeddings e, qv
        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], qv.v) DESC, e.vec_id
        LIMIT 10
    ),
    """ + _IVF_CENTS + """,
    probed AS (
        SELECT cell FROM cents, qv
        ORDER BY list_cosine_similarity(centroid, qv.v) DESC, cell LIMIT 3
    ),
    ivf AS (
        SELECT e.vec_id FROM embeddings e JOIN probed p ON e.label = p.cell, qv
        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], qv.v) DESC, e.vec_id
        LIMIT 10
    ),
    mm AS (
        SELECT d, MIN(v) AS mn, MAX(v) AS mx FROM (
            SELECT generate_subscripts(embedding, 1) AS d,
                   unnest(embedding::DOUBLE[]) AS v
            FROM embeddings
        ) GROUP BY d
    ),
    terms AS (
        SELECT e.vec_id,
               qv.v[m.d] * (CASE WHEN m.mx > m.mn
                   THEN m.mn + (least(floor((e.embedding[m.d]::DOUBLE - m.mn)
                                            * 256.0 / (m.mx - m.mn)), 255)
                                + 0.5) * ((m.mx - m.mn) / 256.0)
                   ELSE m.mn END) AS t
        FROM embeddings e, qv, mm m
    ),
    sq8 AS (
        SELECT vec_id FROM (
            SELECT vec_id, SUM(t) AS score FROM terms GROUP BY vec_id
        ) ORDER BY score DESC, vec_id LIMIT 10
    )
    SELECT 'ivf' AS method,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           ROUND(COUNT(*) / 10.0, 2) AS recall_at_10
    FROM ivf WHERE vec_id IN (SELECT vec_id FROM brute)
    UNION ALL
    SELECT 'sq8', CAST(COUNT(*) AS BIGINT), ROUND(COUNT(*) / 10.0, 2)
    FROM sq8 WHERE vec_id IN (SELECT vec_id FROM brute)
    """,
)
def sim_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN evaluation as an operator: recall@10 of the IVF (nprobe=3)
    and SQ8 search paths against the exact brute-force neighbors of the
    same query — the accuracy half of the speed/accuracy tradeoff each
    index family buys. Every branch is deterministic, so even the
    EVALUATION is value-hash-checked. Top-k sets are k-row relations;
    the intersections are broadcast semi-joins."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    brute = S.brute_force_topk(e, qv, k=10).select("vec_id")
    ivf = S.ivf_topk(e, qv, k=10, nprobe=3).select("vec_id")
    sq8 = S.sq8_topk(e, qv, S.sq8_stats(e), k=10).select("vec_id")

    def leg(name: str, got: DataFrame) -> DataFrame:
        hits = got.join(F.broadcast(brute), "vec_id", "left_semi").agg(
            F.count(F.lit(1)).alias("n_hits")
        )
        return hits.select(
            F.lit(name).alias("method"),
            "n_hits",
            F.round(F.col("n_hits") / 10.0, 2).alias("recall_at_10"),
        )

    return leg("ivf", ivf).unionByName(leg("sq8", sq8))


@query(
    "sim_margin_pairs",
    """
    WITH a AS (
      SELECT vec_id AS a_id, embedding::DOUBLE[] AS av
      FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 64
    ),
    b AS (
      SELECT vec_id AS b_id, embedding::DOUBLE[] AS bv
      FROM embeddings WHERE vec_id % 2 = 1
    ),
    p AS (
      SELECT a_id, b_id, ROUND(list_cosine_similarity(av, bv), 6) AS c
      FROM a, b
    ),
    ra AS (
      SELECT a_id, ROUND(AVG(c), 6) AS r FROM (
        SELECT a_id, c,
               ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY c DESC, b_id) AS rn
        FROM p) WHERE rn <= 4 GROUP BY a_id
    ),
    rb AS (
      SELECT b_id, ROUND(AVG(c), 6) AS r FROM (
        SELECT b_id, c,
               ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY c DESC, a_id) AS rn
        FROM p) WHERE rn <= 4 GROUP BY b_id
    ),
    m AS (
      SELECT p.a_id, p.b_id, p.c AS cos_sim,
             ROUND(p.c / ((ra.r + rb.r) / 2), 6) AS margin
      FROM p JOIN ra USING (a_id) JOIN rb USING (b_id)
    )
    SELECT a_id, b_id, cos_sim, margin FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id
                                   ORDER BY margin DESC, b_id) AS rn
      FROM m) WHERE rn = 1
    """,
)
def sim_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based cross-set pair mining (`ops/similarity.py
    margin_pair_mining` — the CSLS/ratio-margin criterion of bitext
    mining): even vec_ids < 64 probe the odd-id side; each probe's best
    match is scored by cosine over the mean of both endpoints' top-4
    neighborhood cosines, cancelling hubness. The oracle replays the
    full normalization (both density terms, both rankings) in SQL."""
    e = load_table(spark, sf_dir, "embeddings")
    a = e.filter((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 64))
    b = e.filter(F.col("vec_id") % 2 == 1)
    return S.margin_pair_mining(a, b, k=4)


def _multiprobe_oracle(planes: int = 10, dim: int = 64, k: int = 10) -> str:
    """Sketch expression identical to `_sketch_oracle`'s (same literal
    plane components, same left-associated fold), then the Hamming<=1
    probe as integer algebra and an exact-cosine rescore."""
    sketch = _sketch_sql(planes, dim)
    return f"""
    WITH vecs AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    sk AS (
        SELECT vec_id, ({sketch}) AS sketch FROM vecs
    ),
    q AS (
        SELECT s.sketch AS qs, v.v AS qv
        FROM sk s JOIN vecs v USING (vec_id) WHERE vec_id = 0
    ),
    cand AS (
        SELECT s.vec_id FROM sk s, q
        WHERE (xor(s.sketch, q.qs) & (xor(s.sketch, q.qs) - 1)) = 0
          AND xor(s.sketch, q.qs) < {1 << planes}
    )
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
               AS score
    FROM embeddings e JOIN cand USING (vec_id), q
    ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
             e.vec_id
    LIMIT {k}
    """


@query("sim_multiprobe_lsh_topk", _multiprobe_oracle())
def sim_multiprobe_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-10 (`ops/similarity.py multiprobe_lsh_topk`):
    the query's sign-bit bucket plus all 10 Hamming-distance-1 buckets
    probed via one branch-free integer predicate (x & (x-1) == 0 over
    sketch XOR qsketch), exact cosine rescue of the candidates. The
    oracle recomputes the identical sketches, probe set, and rescoring;
    the pytest pins recall vs brute force above the single-bucket
    variant."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.multiprobe_lsh_topk(e, _query_vec(spark, sf_dir), k=10, planes=10)


@query(
    "sim_knn_graph",
    """
    WITH """ + _IVF_CENTS + """,
    assigned AS (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
               (SELECT c.cell FROM cents c
                ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                                       c.centroid), 6) DESC,
                         c.cell
                LIMIT 1) AS cell
        FROM embeddings e
    )
    SELECT src, dst, score FROM (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             ROUND(list_cosine_similarity(a.v, b.v), 6) AS score,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.vec_id
             ) AS rn
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.vec_id <> b.vec_id
    ) WHERE rn <= 2
    """,
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked k-NN graph construction (k=2): each vector's nearest
    neighbors WITHIN its IVF cell — the candidate-edge primitive under
    SemDeDup clustering, kNN classification, and graph-based ANN
    (HNSW's base layer is exactly a bounded-degree kNN graph). Same
    cell-equijoin discipline as `sim_hard_negatives`: `assign_cells`
    nearest-centroid blocking (map-only literal argmax) bounds
    candidates at Σ|cell|², and the per-anchor top-k window keys on the
    uniformly-distributed vector id. Fully hash-checked — the oracle
    replays the round-6 ranked assignment."""
    e = load_table(spark, sf_dir, "embeddings")
    cells = S.assign_cells(e)
    a, b = cells.alias("a"), cells.alias("b")
    from pyspark.sql import Window

    score = S.cosine(F.col("a.embedding"), F.col("b.embedding"))
    w = Window.partitionBy("src").orderBy(F.desc("_raw"), F.asc("dst"))
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("src"),
            F.col("b.vec_id").alias("dst"),
            F.round(score, 6).alias("score"),
            score.alias("_raw"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 2)
        .drop("_rn", "_raw")
    )


def _binquant_oracle(k_short: int = 32, k: int = 10, dim: int = 64) -> str:
    """Binary-quantization oracle: identical sign-bit packing, Hamming
    shortlist, exact rerank — all unrolled literals."""

    def sig(expr: str, lo: int, hi_: int) -> str:
        return " + ".join(
            f"(CASE WHEN {expr}[{i + 1}] >= 0 THEN CAST({1 << (i - lo)} AS BIGINT) "
            "ELSE 0 END)"
            for i in range(lo, hi_)
        )

    return f"""
    WITH vecs AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    sigs AS (
        SELECT vec_id, v,
               ({sig("v", 0, 32)}) AS slo,
               ({sig("v", 32, dim)}) AS shi
        FROM vecs
    ),
    q AS (SELECT v AS qv, slo AS qlo, shi AS qhi FROM sigs WHERE vec_id = 0),
    short AS (
        SELECT s.vec_id, s.v, q.qv,
               bit_count(xor(s.slo, q.qlo)) + bit_count(xor(s.shi, q.qhi))
                   AS hamming
        FROM sigs s, q
        ORDER BY hamming, s.vec_id LIMIT {k_short}
    )
    SELECT vec_id, hamming,
           ROUND(list_cosine_similarity(v, qv), 6) AS score
    FROM short
    ORDER BY ROUND(list_cosine_similarity(v, qv), 6) DESC, vec_id
    LIMIT {k}
    """


@query("sim_binary_quant_topk", _binquant_oracle())
def sim_binary_quant_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN (sign-bit codes + Hamming shortlist + exact
    rerank): each vector compresses 512 bytes → 8 (two packed longs),
    the shortlist is the 32 lowest XOR-popcount codes (pure integer
    ops, rides whole-stage codegen), and exact cosine reranks only the
    shortlist — the 64× memory-bandwidth trade behind every modern
    binary-quantization index. Hamming is INTEGER so the shortlist is
    exactly deterministic (vec_id ties); rerank ranks on ROUND(cos, 6).
    At 100 TB the code table (8 B/vector) is the only relation the
    scan phase touches."""
    e = load_table(spark, sf_dir, "embeddings")

    def sig(lo: int, hi_: int):
        t = None
        for i in range(lo, hi_):
            b = F.when(
                F.element_at(F.col("embedding"), i + 1) >= 0,
                F.lit(1 << (i - lo)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            t = b if t is None else t + b
        return t

    sigs = e.select(
        "vec_id",
        "embedding",
        sig(0, 32).alias("slo"),
        sig(32, 64).alias("shi"),
    )
    q = (
        sigs.filter(F.col("vec_id") == 0)
        .select(
            F.col("embedding").alias("qv"),
            F.col("slo").alias("qlo"),
            F.col("shi").alias("qhi"),
        )
    )
    short = (
        sigs.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            "qv",
            (
                F.bit_count(F.col("slo").bitwiseXOR(F.col("qlo")))
                + F.bit_count(F.col("shi").bitwiseXOR(F.col("qhi")))
            ).alias("hamming"),
        )
        .orderBy(F.asc("hamming"), F.asc("vec_id"))
        .limit(32)
    )
    return (
        short.select(
            "vec_id",
            "hamming",
            F.round(S.cosine(F.col("embedding"), F.col("qv")), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


@query(
    "cluster_silhouette_simplified",
    """
    WITH """ + _IVF_CENTS + """,
    scored AS (
        SELECT e.vec_id, c.cell,
               ROUND(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid),
                     6) AS s
        FROM embeddings e CROSS JOIN cents c
    ),
    own AS (
        SELECT vec_id, cell, s FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    nearest_other AS (
        SELECT sc.vec_id, MAX(sc.s) AS s2
        FROM scored sc JOIN own o
          ON sc.vec_id = o.vec_id AND sc.cell <> o.cell
        GROUP BY sc.vec_id
    ),
    sil AS (
        SELECT o.cell,
               CASE WHEN GREATEST(1 - o.s, 1 - n.s2) = 0 THEN 0.0
                    ELSE ((1 - n.s2) - (1 - o.s))
                         / GREATEST(1 - o.s, 1 - n.s2) END AS sv
        FROM own o JOIN nearest_other n ON o.vec_id = n.vec_id
    )
    SELECT cell AS cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(AVG(sv), 6) AS mean_silhouette
    FROM sil GROUP BY cell
    """,
)
def cluster_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette (Hruschka et al.) of the nearest-centroid
    clustering: a = cosine distance to the OWN centroid, b = distance
    to the nearest OTHER centroid, s = (b−a)/max(a,b), averaged per
    cluster — the O(n·k) cluster-quality score (the exact silhouette's
    O(n²) pairwise pass is precisely what cannot run at 100 TB; against
    centroids it is one map-side cross-score, the semdedup shape).
    Assignment ranks on ROUND(cos, 6) with cell tiebreak — the same
    round-before-rank assignment as `assign_cells`, so both engines
    cluster identically."""
    from pyspark.sql import Window

    from hudi_utility_spark.ops.similarity import cosine, ivf_centroids

    e = load_table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(e)
    scored = (
        e.select("vec_id", "embedding")
        .join(F.broadcast(cents))
        .select(
            "vec_id",
            "cell",
            F.round(cosine(F.col("embedding"), F.col("centroid")), 6).alias("s"),
        )
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("s"), F.asc("cell"))
    # rank-1 is the own cell; rank-2 IS max-s-over-other-cells (one row
    # per (vec, cell), ranked by s desc), so the former corpus-sized
    # scored ⋈ own self-join + re-aggregate collapses to one windowed
    # rank + a vec-keyed pivot aggregate that reuses the window's
    # partitioning — two exchanges and a sort-merge join removed
    # (guide §2.4). Vectors with a single scored cell had no
    # other-cell row before (inner join + filter emptied them), hence
    # the s2-not-null filter.
    ranked = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
    )
    other = (
        ranked.groupBy("vec_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("cell"))).alias("own_cell"),
            F.max(F.when(F.col("rn") == 1, F.col("s"))).alias("s1"),
            F.max(F.when(F.col("rn") == 2, F.col("s"))).alias("s2"),
        )
        .filter(F.col("s2").isNotNull())
    )
    a = 1 - F.col("s1")
    b = 1 - F.col("s2")
    sv = F.when(F.greatest(a, b) == 0, F.lit(0.0)).otherwise(
        (b - a) / F.greatest(a, b)
    )
    return (
        other.select(F.col("own_cell").alias("cluster"), sv.alias("sv"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("sv"), 6).alias("mean_silhouette"),
        )
    )


def _pca_oracle(dim: int = 64, iters: int = 5) -> str:
    """Unrolled power-iteration oracle: covariance from the long
    relation, every matrix and vector quantized on the same schedule as
    the Spark driver loop (round-6 covariance entries, round-6
    normalized components per step), 5 steps as CTE triples
    (matvec, norm, quantize)."""
    steps = []
    prev = "w0"
    for t in range(1, iters + 1):
        steps.append(
            f"""
    r{t} AS (
        SELECT c.i, SUM(c.c * {prev}.wv) AS rv
        FROM cov c JOIN {prev} ON {prev}.i = c.j GROUP BY c.i
    ),
    nm{t} AS (SELECT sqrt(SUM(rv * rv)) AS nm FROM r{t}),
    w{t} AS (
        SELECT i, ROUND(rv / (SELECT nm FROM nm{t}), 6) AS wv FROM r{t}
    )"""
        )
        prev = f"w{t}"
    return f"""
    WITH vecs AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    long AS (
        SELECT vec_id, label, d.i - 1 AS i, d.x AS x
        FROM vecs,
             LATERAL (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS i) d
    ),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM vecs),
    mu AS (SELECT i, AVG(x) AS m FROM long GROUP BY i),
    cov AS (
        SELECT a.i AS i, b.i AS j,
               ROUND(SUM(a.x * b.x) / (SELECT n FROM nn) - ma.m * mb.m, 6)
                   AS c
        FROM long a JOIN long b ON a.vec_id = b.vec_id
        JOIN mu ma ON ma.i = a.i
        JOIN mu mb ON mb.i = b.i
        GROUP BY a.i, b.i, ma.m, mb.m
    ),
    w0 AS (SELECT i, ROUND(1.0 / sqrt({dim}), 6) AS wv FROM mu),
    {",".join(steps)},
    lam AS (
        SELECT ROUND(SUM(wa.wv * c.c * wb.wv), 4) AS lam
        FROM cov c JOIN {prev} wa ON wa.i = c.i JOIN {prev} wb ON wb.i = c.j
    ),
    pv AS (
        SELECT l.vec_id, SUM(l.x * w.wv) AS p
        FROM long l JOIN {prev} w ON w.i = l.i GROUP BY l.vec_id
    )
    SELECT v.label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(pv.p), 6) AS mean_projection,
           (SELECT lam FROM lam) AS eigenvalue
    FROM pv JOIN vecs v ON v.vec_id = pv.vec_id
    GROUP BY v.label
    """


@query("sim_pca_top_component", _pca_oracle())
def sim_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal component of the embedding corpus by power
    iteration (ops/similarity.py top_eigenvector) — PCA's top direction
    as pure dataflow: the covariance's sufficient statistics come from
    ONE scan (a single HOF generates all 2080 upper-triangle product
    triples per row — no wide-column codegen — and posexplode feeds a
    map-side-combined hash aggregate), the 64×64 matrix is a
    codebook-sized driver literal, and five matvec→normalize steps run
    driver-side with round-6 quantization after every step so the
    unrolled SQL oracle replays the identical schedule bit-for-bit
    (the logistic_fit cross-engine discipline applied to linear
    algebra). Output: per-label mean projection onto the component +
    the top eigenvalue — the 'is one direction dominating my embedding
    space' health readout (an anisotropic collapse shows up as a giant
    λ and label means separated along w)."""
    e = load_table(spark, sf_dir, "embeddings")
    w, lam = S.top_eigenvector(e, dim=64, iters=5)
    wlit = F.array(*[F.lit(x) for x in w])
    proj = S.dot(F.col("embedding"), wlit)
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg(proj), 6).alias("mean_projection"),
        )
        .withColumn("eigenvalue", F.lit(lam))
    )


@query(
    "ml_knn_accuracy",
    """
    WITH """ + _IVF_ASSIGNED + """,
    nbrs AS (
      SELECT src, true_label, nbr_label FROM (
        SELECT a.vec_id AS src, a.label AS true_label,
               b.label AS nbr_label,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC,
                          b.vec_id
               ) AS rn
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.vec_id <> b.vec_id
      ) WHERE rn <= 3
    ),
    votes AS (
        SELECT src, true_label, nbr_label, COUNT(*) AS c
        FROM nbrs GROUP BY src, true_label, nbr_label
    ),
    pred AS (
      SELECT src, true_label, nbr_label AS pred_label FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY src ORDER BY c DESC, nbr_label ASC) AS rv
        FROM votes
      ) WHERE rv = 1
    )
    SELECT true_label AS label, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS correct,
           ROUND(SUM(CASE WHEN pred_label = true_label THEN 1.0 ELSE 0 END)
                 / COUNT(*), 6) AS accuracy
    FROM pred GROUP BY true_label
    """,
)
def ml_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 3-NN classification accuracy per label over the
    embedding table — the standard embedding-quality probe (if labels
    aren't recoverable from neighborhoods, the embedding is noise for
    retrieval and SemDeDup alike). Candidates come from the SAME
    `assign_cells` IVF-cell equijoin as `sim_knn_graph` (never all
    pairs); ranking is round-6 cosine + vec_id, majority vote breaks
    ties toward the smaller label — every step engine-deterministic,
    so the oracle replays it exactly."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    cells = S.assign_cells(e)
    a, b = cells.alias("a"), cells.alias("b")
    score = F.round(
        S.cosine(F.col("a.embedding"), F.col("b.embedding")), 6
    )
    w = Window.partitionBy("src").orderBy(F.desc("_s"), F.asc("dst"))
    nbrs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("src"),
            F.col("a.label").alias("true_label"),
            F.col("b.label").alias("nbr_label"),
            F.col("b.vec_id").alias("dst"),
            score.alias("_s"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
    )
    votes = nbrs.groupBy("src", "true_label", "nbr_label").agg(
        F.count(F.lit(1)).alias("c")
    )
    wv = Window.partitionBy("src").orderBy(
        F.desc("c"), F.asc("nbr_label")
    )
    pred = (
        votes.withColumn("_rv", F.row_number().over(wv))
        .filter(F.col("_rv") == 1)
        .select("src", "true_label", F.col("nbr_label").alias("pred_label"))
    )
    hit = (F.col("pred_label") == F.col("true_label")).cast("int")
    return pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(hit).alias("correct"),
        F.round(F.sum(hit) / F.count(F.lit(1)), 6).alias("accuracy"),
    )


@query(
    "sim_batch_query_topk",
    """
    WITH qs AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
                   AS score,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY ROUND(list_cosine_similarity(
                                e.embedding::DOUBLE[], q.qv), 6) DESC,
                            e.vec_id
               ) AS rn
        FROM embeddings e JOIN qs q ON e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, score FROM scored WHERE rn <= 3
    """,
)
def sim_batch_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN serving: FIVE query vectors answered in ONE plan —
    the queries ride a broadcast join against the corpus scan, each
    anchor keeps its own top-3 via a per-query window; at 100 TB this
    is the shape that amortizes one corpus pass over a whole request
    batch instead of replaying the scan per query (the single-query
    ops `sim_bruteforce_topk`/`sim_ivf_topk` are the latency path,
    this is the throughput path). Round-6-before-rank with vec_id
    tiebreak keeps both engines' rankings identical; self-matches
    excluded."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
    )
    score = F.round(S.cosine(F.col("embedding"), F.col("qv")), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    return (
        e.join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", score.alias("score"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "vec_id", "score")
    )


@query(
    "sim_embedding_drift",
    """
    WITH halves AS (
        SELECT label, CAST(vec_id % 2 AS INTEGER) AS half,
               d.i AS dim, AVG(d.v) AS mean_v
        FROM embeddings,
             LATERAL (SELECT unnest(embedding::DOUBLE[]) AS v,
                             generate_subscripts(embedding, 1) AS i) d
        GROUP BY label, half, d.i
    ),
    cents AS (
        SELECT label, half, list(mean_v ORDER BY dim) AS c
        FROM halves GROUP BY label, half
    ),
    counts AS (
        SELECT label, CAST(vec_id % 2 AS INTEGER) AS half,
               COUNT(*) AS n
        FROM embeddings GROUP BY label, half
    )
    SELECT a.label,
           (SELECT n FROM counts x
            WHERE x.label = a.label AND x.half = 0) AS n_half0,
           (SELECT n FROM counts x
            WHERE x.label = a.label AND x.half = 1) AS n_half1,
           ROUND(list_cosine_similarity(a.c, b.c), 6) AS centroid_cosine
    FROM cents a JOIN cents b
      ON a.label = b.label AND a.half = 0 AND b.half = 1
    """,
)
def sim_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per label, the cosine between the
    centroid of the even-id half and the odd-id half of the corpus —
    the pipeline-health check a production embedding store runs after
    every model refresh or ingest batch (centroids near 1.0 = stable
    manifold; a dropping label flags re-embedding drift or ingest
    corruption BEFORE the downstream ANN recall decays). Two map-side
    centroid aggregates (label x half x dim relation, codebook-sized),
    one k-row join; at 100 TB the halves become before/after snapshots
    and the plan is unchanged."""
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "embeddings")
    halved = e.select(
        "label",
        (F.col("vec_id") % 2).cast("int").alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        ),
    )
    cents = (
        halved.groupBy("label", "half", "dim")
        .agg(F.avg("v").alias("mean_v"))
        .groupBy("label", "half")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("dim", "mean_v"))
                ),
                lambda s: s["mean_v"],
            ).alias("c")
        )
    )
    counts = e.groupBy(
        "label", (F.col("vec_id") % 2).cast("int").alias("half")
    ).agg(F.count(F.lit(1)).alias("n"))
    a = cents.filter(F.col("half") == 0).select(
        "label", F.col("c").alias("c0")
    )
    b = cents.filter(F.col("half") == 1).select(
        "label", F.col("c").alias("c1")
    )
    n0 = counts.filter(F.col("half") == 0).select(
        "label", F.col("n").alias("n_half0")
    )
    n1 = counts.filter(F.col("half") == 1).select(
        "label", F.col("n").alias("n_half1")
    )
    return (
        a.join(b, "label")
        .join(F.broadcast(n0), "label")
        .join(F.broadcast(n1), "label")
        .select(
            "label",
            "n_half0",
            "n_half1",
            F.round(S.cosine(F.col("c0"), F.col("c1")), 6).alias(
                "centroid_cosine"
            ),
        )
    )


@query(
    "sim_knn_join_by_cell",
    """
    WITH corpus AS (SELECT * FROM embeddings WHERE vec_id >= 5),
    dims AS (
        SELECT label AS cell, d.i AS dim, AVG(d.v) AS mean_v
        FROM corpus,
             LATERAL (SELECT unnest(embedding::DOUBLE[]) AS v,
                             generate_subscripts(embedding, 1) AS i) d
        GROUP BY label, d.i
    ),
    cents AS (
        SELECT cell, list(mean_v ORDER BY dim) AS centroid
        FROM dims GROUP BY cell
    ),
    qs AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 5
    ),
    ranked_cells AS (
        SELECT q.query_id, c.cell,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY ROUND(list_cosine_similarity(c.centroid, q.qv),
                                  6) DESC, c.cell) AS rn
        FROM qs q, cents c
    ),
    scored AS (
        SELECT p.query_id, e.vec_id,
               ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
                   AS score
        FROM ranked_cells p
        JOIN corpus e ON e.label = p.cell
        JOIN qs q ON q.query_id = p.query_id
        WHERE p.rn <= 3
    ),
    topk AS (
        SELECT query_id, vec_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, vec_id) AS rn
        FROM scored
    )
    SELECT query_id, vec_id, score FROM topk WHERE rn <= 5
    """,
)
def sim_knn_join_by_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF k-NN JOIN — a BATCH of query vectors against the
    corpus in one plan (the shape a training pipeline runs nightly:
    every new example needs neighbors, not one ad-hoc probe like
    `sim_ivf_topk`). Vectors 0-4 are the queries, the rest the corpus;
    each query probes its top-3 cells by round-6 centroid cosine
    (total order: score DESC, cell ASC), candidates come from ONE
    equi-join on the exploded cell id (`ops/similarity.py
    knn_join_by_cell` — re-shaped from an `array_contains` theta join
    that planned as a nested loop, r9 verdict #4), and per-query top-5
    ranks on rounded scores.

    100 TB posture: candidate volume is sum over probes of |cell| —
    cell-pruned, never |Q|x|corpus|; the centroid table is n_cells x
    dim driver literals; the only wide exchange is the cell-keyed
    equi-join, which AQE can skew-split if a hot cell emerges."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") >= 5)
    qs = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = S.ivf_centroids(corpus)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("s"), F.asc("cell")
    )
    probes = (
        qs.crossJoin(F.broadcast(cents))  # n_cells rows: bounded BNLJ
        .select(
            "query_id",
            "embedding",
            "cell",
            F.round(S.cosine(F.col("embedding"), F.col("centroid")), 6)
            .alias("s"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .groupBy("query_id")
        .agg(
            F.first("embedding").alias("embedding"),
            F.collect_list("cell").alias("probe_cells"),
        )
    )
    return S.knn_join_by_cell(corpus, probes, k=5)
