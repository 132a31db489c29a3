"""Distributed k-means over embedding columns (Lloyd's algorithm).

The learned coarse quantizer the IVF index (`ops/similarity.py`) is
missing: `ivf_centroids` averages a *given* cell column; this module
learns the cells from the vectors themselves. The reference repo has no
counterpart (it is an ETL utility); this belongs to the north-star
training-data operators — clustering embeddings for IVF cells, corpus
bucketing, or SemDeDup-style semantic dedup.

Design for 100 TB:

- **Assignment is map-only.** Centroids (k × dim doubles, e.g.
  256 × 768 ≈ 1.5 MB) are folded into the plan as a literal
  array-of-structs — the JVM evaluates argmin(distance) inside
  whole-stage codegen; no join, no shuffle, no Python. This is the same
  broadcast-the-small-side logic as a map-side join, done with an
  expression instead of a relation because the small side is *constant
  within an iteration*.
- **Update is one shuffle per iteration**: posexplode → groupBy
  (cluster, dim) partial-avg. Spark's map-side partial aggregation
  reduces each partition to ≤ k·dim rows before the exchange, so the
  shuffle volume is executors × k × dim, independent of N.
- **Driver state is k × dim floats per iteration** — the only collect;
  Lloyd's is inherently iterative (SURVEY's "genuinely non-SQL-
  expressible" class), so the oracle story is a pytest parity check
  against a NumPy reference, plus a rows-only driver check.
- Deterministic: init picks the k lowest-id vectors (no RNG), ties in
  argmin break toward the lower cluster id — same tie rule as the NumPy
  reference test.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from hudi_utility_spark.ops import phash


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance between two float arrays, JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _centroid_literal(centroids: list[list[float]]) -> Column:
    """Fold the centroid table into a constant array<struct<cid,c>>.

    Rendered as ONE SQL string (ops/lits.py) instead of per-element
    ``F.lit`` calls: a 49x64 table measured 1.9 s of py4j round-trips
    built element-wise vs 6 ms parsed JVM-side — and the multi-pass
    fitters below rebuild this literal every iteration."""
    from hudi_utility_spark.ops.lits import array_struct_cid_c

    return array_struct_cid_c(centroids)


def assign_clusters(
    df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Add a ``cluster`` column: argmin squared-L2 over *centroids*.

    Map-only — the centroid list is a plan literal, distances and the
    argmin run inside codegen. Ties break toward the lower cluster id
    (array_sort on (dist, cid) structs orders field-by-field)."""
    cents = _centroid_literal(centroids)
    best = F.array_sort(
        F.transform(
            cents,
            lambda s: F.struct(
                _sq_dist(F.col(vec_col), s["c"]).alias("d"),
                s["cid"].alias("cid"),
            ),
        )
    )[0]["cid"]
    return df.withColumn("cluster", best)


def kmeans_fit(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 5,
) -> list[list[float]]:
    """Learn k centroids with *iters* Lloyd iterations. Deterministic:
    init = the k lowest-``id_col`` vectors. Returns driver-side
    centroids (k × dim floats) for reuse in `assign_clusters` /
    `ivf_topk`-style probing. Empty clusters keep their previous
    centroid."""
    init_rows = df.orderBy(id_col).limit(k).select(vec_col).collect()
    centroids = [list(map(float, r[0])) for r in init_rows]
    for _ in range(iters):
        assigned = assign_clusters(df, centroids, vec_col)
        per_dim = (
            assigned.select(
                "cluster", F.posexplode(F.col(vec_col)).alias("dim", "v")
            )
            .groupBy("cluster", "dim")
            .agg(F.avg("v").alias("mean_v"))
        )
        rows = per_dim.collect()
        new = {cid: dict() for cid in range(k)}
        for r in rows:
            new[r["cluster"]][r["dim"]] = r["mean_v"]
        centroids = [
            [new[cid][d] for d in range(len(centroids[cid]))]
            if new.get(cid)
            else centroids[cid]
            for cid in range(k)
        ]
    return centroids


def kmeans_cluster_profile(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 5,
) -> DataFrame:
    """Fit + assign + profile: per learned cluster, member count and
    mean within-cluster squared distance (inertia / n). The standard
    clustering-quality readout; one map-only assignment pass plus one
    aggregation."""
    centroids = kmeans_fit(df, k, vec_col, id_col, iters)
    cents = _centroid_literal(centroids)
    assigned = assign_clusters(df, centroids, vec_col).withColumn(
        "sq_dist",
        _sq_dist(
            F.col(vec_col), F.element_at(cents, F.col("cluster") + 1)["c"]
        ),
    )
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("sq_dist"), 4).alias("mean_sq_dist"),
        )
        .orderBy("cluster")
    )


def kmeans_parallel_init(
    df: DataFrame,
    k: int = 8,
    rounds: int = 3,
    l: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "kmpar",
) -> tuple[list[list[float]], list[tuple[int, int, int, float]]]:
    """k-means|| initialization (Bahmani et al. 2012) — the seeding
    that makes distributed Lloyd practical: instead of k sequential
    kmeans++ passes over the corpus (k full scans), oversample an
    expected ``l`` candidates per round for a constant number of
    rounds, then reduce the small weighted candidate set to k centers
    on the driver.

    Deterministic end to end: the per-point coin is an md5 uniform of
    (seed, round, id); a point joins the candidate set when
    ``u * phi < l * d2(x)`` with ``phi`` ROUNDED to 2 decimals on both
    engines (so an ulp of sum-order divergence cannot flip a
    membership), and the final reduction is weighted farthest-first
    traversal (heaviest candidate first, ties toward the lower
    candidate index).

    Scale: each round is ONE map-only d2 pass against a literal
    candidate set — the candidate collect (expected l vectors,
    model-sized) carries a ``df.observe`` named metric that measures
    this round's potential on the same pass, and the NEXT round's coin
    uses it (one-round-stale phi, which Bahmani's oversampling analysis
    tolerates: a phi overestimate only tightens the coin slightly).
    Only round 1 pays a separate scalar phi job (there is no earlier
    pass to observe, and its d2 is against a single seed candidate —
    the cheapest pass of the run). The weight pass is one map-only
    argmin + a k'-row count. Nothing data-sized ever reaches the
    driver. Returns (k centroids, per-round diagnostics
    [(round, n_new, n_total, phi)] where phi is the potential MEASURED
    that round — the value the next round's coin consumes)."""
    if l is None:
        l = 2 * k
    # persisted for the op's lifetime: rounds+1 actions read it; the op
    # returns plain lists, so the cache is released before returning
    emb = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).persist()
    seed_row = emb.orderBy("_id").first()
    cands: list[list[float]] = [[float(x) for x in seed_row.v]]
    cand_ids = {seed_row._id}
    diag: list[tuple[int, int, int, float]] = [(0, 1, 1, 0.0)]
    prev_phi: float | None = None
    for r in range(1, rounds + 1):
        clit = _centroid_literal(cands)
        d2 = F.array_min(
            F.transform(clit, lambda s: _sq_dist(F.col("v"), s["c"]))
        )
        if prev_phi is None:
            # round 1 only: no earlier pass to observe; d2 is against
            # the single seed candidate, so this is the cheapest pass
            phi = float(emb.agg(F.round(F.sum(d2), 2)).collect()[0][0])
        else:
            phi = prev_phi
        u = phash.uniform(
            F.concat_ws(":", F.lit(seed), F.lit(str(r)), F.col("_id").cast("string"))
        )
        obs = Observation()
        # no orderBy here: a distributed sort's range-partitioner runs a
        # SAMPLING pass through the child, which would fire the observe
        # metric twice (phi doubled); the picked set is expected-l rows,
        # so the deterministic _id order is restored driver-side
        picked = sorted(
            emb.observe(obs, F.round(F.sum(d2), 2).alias("phi"))
            .filter((u * F.lit(phi)) < (F.lit(float(l)) * d2))
            .collect(),
            key=lambda row: row._id,
        )
        # potential w.r.t. THIS round's candidate set, measured on the
        # collect pass itself — next round's coin consumes it
        phi_here = float(obs.get["phi"])
        prev_phi = phi_here
        new = [
            [float(x) for x in row.v]
            for row in picked
            if row._id not in cand_ids
        ]
        cand_ids.update(row._id for row in picked)
        cands.extend(new)
        diag.append((r, len(new), len(cands), phi_here))

    # weight pass: points per nearest candidate (argmin, lower-cid ties)
    assigned = assign_clusters(
        emb.select(F.col("v").alias(vec_col)), cands, vec_col
    )
    wrows = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("w")).collect()
    weights = {r.cluster: int(r.w) for r in wrows}
    emb.unpersist()

    # driver reduce: weighted farthest-first traversal over the
    # candidate set (k' ~ rounds*l rows — numpy territory)
    import numpy as np

    C = np.asarray(cands)
    w = np.asarray([weights.get(i, 0) for i in range(len(cands))], dtype=float)
    first = int(np.lexsort((np.arange(len(w)), -w))[0])
    chosen = [first]
    mind2 = ((C - C[first]) ** 2).sum(axis=1)
    while len(chosen) < min(k, len(cands)):
        score = w * mind2
        nxt = int(np.lexsort((np.arange(len(score)), -score))[0])
        chosen.append(nxt)
        mind2 = np.minimum(mind2, ((C - C[nxt]) ** 2).sum(axis=1))
    return [cands[i] for i in chosen], diag
