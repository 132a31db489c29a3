"""Corpus assembly operators: sequence packing and stratified sampling
(north star — the last mile between a cleaned corpus and training
batches).

Both are deterministic pure functions of the data, so both are fully
oracle-checkable:

* **Sequence packing** assigns whole documents to fixed-token-budget
  training sequences. A globally serial first-fit is inherently
  sequential, so the scalable formulation shards the corpus by a
  content-stable hash and packs each shard independently with a running
  token total — bin index = floor(start_offset / budget), the
  document-contiguous greedy layout with boundary overflow that data
  loaders handle by truncation. Parallelism = shard count (scales with
  the cluster); within a shard the window is one ordered scan.
* **Stratified sampling** keeps a per-stratum fraction of documents by
  comparing an md5-derived uniform against a hex threshold — membership
  is a pure function of the id (re-runs, backfills, and incremental
  arrivals sample identically), map-only at any scale, and identical in
  any engine with md5.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hudi_utility_spark.ops import phash


def with_shard(df: DataFrame, id_col: str, n_shards: int) -> DataFrame:
    """Content-stable shard id: first 8 md5 hex chars of the id modulo
    ``n_shards``. The parallelism unit for packing; at 100 TB raise
    ``n_shards`` to ~cluster cores so each shard's ordered scan stays
    one task-sized."""
    bucket = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 8),
        16,
        10,
    ).cast("long")
    return df.withColumn("shard", (bucket % n_shards).cast("int"))


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
) -> DataFrame:
    """Assign each document to a (shard, seq_idx) training sequence of
    ~``budget`` whitespace tokens.

    Within a shard, documents are laid out in ``id_col`` order and a
    document belongs to the sequence where its start offset lands
    (``floor(prev_running_total / budget)``) — contiguous greedy packing
    whose only non-map stage is one hash shuffle to shards plus the
    per-shard ordered window. No global window: the r2 z-order lesson
    (`write.py` history) applied from the start.

    Returns (id, shard, seq_idx, n_tokens, start_offset).
    """
    toks = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    sharded = with_shard(df, id_col, n_shards).select(
        F.col(id_col), "shard", toks.alias("n_tokens")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sharded.select(
        id_col,
        "shard",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_offset"),
    ).withColumn(
        "seq_idx", F.floor(F.col("start_offset") / budget).cast("int")
    )


def pack_profile(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
) -> DataFrame:
    """Per-sequence packing readout: document count, token total, and
    fill ratio against the budget — what a training-data engineer checks
    before shipping a packed corpus (chronic under-fill means the shard
    order fights the length distribution)."""
    packed = pack_sequences(df, budget, id_col, text_col, n_shards)
    return packed.groupBy("shard", "seq_idx").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
        F.round(F.sum("n_tokens") / F.lit(float(budget)), 6).alias("fill_ratio"),
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Keep a deterministic per-stratum fraction of rows: uniform =
    first 6 md5 hex chars of the id, kept iff below the stratum's
    threshold (``frac * 16^6`` rendered as 6 hex digits). Map-only — the
    quality-weighted downsampling step of a pretraining mix (keep 100%
    of high-quality strata, x% of the rest) at zero shuffle cost."""
    uniform = F.substring(
        F.md5(F.col(id_col).cast("string").cast("binary")), 1, 6
    )
    keep = None
    for stratum, frac in fractions.items():
        cond = F.col(strata_col) == stratum
        if frac < 1.0:  # a >= 1.0 threshold has no 6-hex-digit encoding
            thresh = format(max(int(frac * 16**6), 0), "06x")
            cond = cond & (uniform < thresh)
        keep = cond if keep is None else keep | cond
    default_thresh = format(
        min(max(int(default_fraction * 16**6), 0), 16**6), "06x"
    )
    other = ~F.col(strata_col).isin(*fractions) if fractions else F.lit(True)
    default_cond = other & (uniform < default_thresh)
    keep = default_cond if keep is None else keep | default_cond
    return df.filter(keep)


def sample_n_per_group(
    df: DataFrame,
    n: int,
    group_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly-N-per-group deterministic sample (the eval-holdout carve:
    "hold out 100 documents per language, reproducibly, forever").

    Rank rows within each group by ``(md5(id), id)`` — a content-stable
    uniform order — and keep rank ≤ n. One shuffle keyed by the group;
    the ranking window is per-group (state O(group size), parallelism =
    #groups). Unlike fraction-based `stratified_sample`, membership here
    depends on which OTHER ids share the group, so it's for frozen
    snapshots (eval sets), not incremental ingest.
    """
    u = F.md5(F.col(id_col).cast("string").cast("binary"))
    w = Window.partitionBy(group_col).orderBy(u, F.col(id_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .drop("_rk")
    )


def select_until_budget(
    df: DataFrame,
    token_budget: int,
    score_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_ranges: int = 32,
    tokens_col: str | None = None,
) -> DataFrame:
    """Select the best-scoring documents until a *global* token budget is
    exhausted — the "give me the top N-billion tokens by quality" cut
    that decides what actually enters a pretraining run.

    Semantics: lay documents out in ``(score DESC, id ASC)`` order and
    keep every document whose start offset in that order is below
    ``token_budget`` (the straddling document is kept whole — data
    loaders truncate, as in :func:`pack_sequences`).

    The naive plan is a cumulative sum over a global window — a single
    task holding the whole corpus (the round-2 z-order scale-killer
    shape). This is instead the classic **distributed prefix sum**:

    1. ``repartitionByRange`` on the sort key → sampled range boundaries,
       fully parallel sort-shuffle (the same machinery as any global
       ``orderBy``);
    2. local cumulative sums within each range partition (per-partition
       window keyed by the partition id);
    3. per-partition token totals — ``n_ranges`` scalars — collected and
       prefix-summed on the driver, then broadcast back as a literal
       map: ``global_cum = offset[pid] + local_cum``.

    Every stage is parallel; driver state is O(n_ranges). The relation
    is persisted across the two jobs (totals, output) so both see the
    one sampled partitioning — membership itself is partition-invariant
    (any range split yields the same global prefix sums), so the
    sampling nondeterminism inside ``repartitionByRange`` never reaches
    the result. The persisted blocks must outlive the returned plan
    (unpersisting before the output materializes would re-sample the
    partitioning and corrupt the offsets), so long-lived sessions clear
    the cache between units of work, as bench.py does — same contract
    as `jaccard_pairs`' shingle relation. Returns (id, score, n_tokens,
    start_offset).
    """
    # token accounting: a precomputed column (e.g. a learned tokenizer's
    # counts) when given, else whitespace tokens from the text
    toks = (
        F.col(tokens_col).cast("long")
        if tokens_col is not None
        else F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    )
    base = df.select(
        F.col(id_col), F.col(score_col), toks.alias("n_tokens")
    )
    tagged = (
        base.repartitionByRange(n_ranges, F.desc(score_col), F.asc(id_col))
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    totals = {
        r[0]: r[1]
        for r in tagged.groupBy("_pid").agg(F.sum("n_tokens")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for p in sorted(totals):
        offsets[p] = acc
        acc += totals[p]
    off_map = F.create_map(
        *[F.lit(v) for kv in offsets.items() for v in kv]
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(F.desc(score_col), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (
        off_map[F.col("_pid")] + F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return (
        tagged.withColumn("start_offset", start)
        .filter(F.col("start_offset") < token_budget)
        .drop("_pid")
    )


def mix_corpus(
    df: DataFrame,
    target_weights: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Down-sample strata so the surviving corpus approaches the target
    mix (e.g. 50% en / 30% de / 20% fr) at the maximum achievable
    volume: the binding stratum (smallest availability/weight ratio) is
    kept whole and every other stratum is hash-sampled down in
    proportion.

    Data-dependent but fully deterministic: per-stratum availability is
    one tiny aggregate (k scalars collected), the keep-threshold
    arithmetic is ``floor(((scale·w)/n)·2^24)`` evaluated in the same
    operation order the DuckDB oracle uses, and membership is the
    md5-uniform vs integer-threshold comparison — so re-runs and both
    engines select the identical document set. Map-only on the corpus;
    the sampled mix is binomially close to the target, never exact
    (that is inherent to stateless hash sampling).
    """
    avail = {
        r[0]: r[1]
        for r in df.filter(F.col(strata_col).isin(*target_weights))
        .groupBy(strata_col)
        .count()
        .collect()
    }
    scale = min(avail[s] / float(w) for s, w in target_weights.items())
    uniform24 = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 6),
        16,
        10,
    ).cast("long")
    keep = None
    for s, w in target_weights.items():
        thresh = int(scale * float(w) / avail[s] * 16_777_216)
        cond = (F.col(strata_col) == s) & (uniform24 < F.lit(thresh))
        keep = cond if keep is None else keep | cond
    return df.filter(keep)


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling *without replacement* of exactly ``k`` rows —
    the Efraimidis–Spirakis exponential-clocks scheme (A-ES): each row
    draws a deterministic uniform ``u`` from md5 of its id and races
    with key ``-ln(u) / w``; the ``k`` smallest keys win. Inclusion
    probability is proportional to weight, membership is a pure
    function of (id, weight) — re-runs, engines, and backfills agree.

    This is the quality-weighted corpus cut ("sample 10M documents,
    preferring high scores") that fraction-based `stratified_sample`
    can't express: it needs *exactly k* winners and continuous weights.

    Scale: the uniform and key are map-only expressions; the top-k is
    TakeOrderedAndProject (each task keeps its local k, driver merges
    task winners) — no global sort shuffle, driver state O(k). Rows
    with NULL or non-positive weight never win (they'd need an
    infinite clock) and are filtered before the race.
    """
    u = phash.uniform(F.col(id_col).cast("string"))
    key = -F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("_race_key", key)
        .orderBy(F.col("_race_key").asc(), F.col(id_col).asc())
        .limit(k)
        .drop("_race_key")
    )


def temperature_sample(
    df: DataFrame,
    alpha: float = 0.5,
    budget_fraction: float = 0.5,
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based group rebalancing — the classic multilingual
    pretraining recipe (sample language g with probability ∝ p_g^α,
    α<1 flattening the distribution so low-resource languages are
    upweighted relative to their share): keep-rate for group g is
    ``min(1, q_g · B / n_g)`` with ``q_g = p_g^α / Σ_h p_h^α``,
    ``p_g = n_g / N`` and row budget ``B = floor(N · budget_fraction)``.

    Deterministic and engine-portable by construction, like the rest of
    the sampling family: membership is the md5-uniform vs
    integer-threshold comparison, and every data-dependent float step
    is IEEE-reproducible — ``α = 0.5`` routes through ``sqrt``
    (correctly rounded by IEEE 754, unlike ``pow``, which libm only
    bounds to ~1 ulp), and the normalizer Σ p^α is summed in
    DECIMAL(38,20) so it is exact and order-independent before the
    single cast back to double. Other α values use ``pow`` and carry a
    ≤1-ulp cross-engine caveat at threshold boundaries.

    Plan: ONE tiny group-count aggregate whose |groups| rows are
    collected to the driver (the centroid/codebook idiom — languages or
    domains, never data rows), the threshold arithmetic replayed
    driver-side with the exact same IEEE operation order, and the
    result emitted as a literal CASE expression — so the corpus itself
    sees a single map-only filter: no persist, no threshold join, no
    corpus-sized shuffle, and nothing left cached after the call
    (round-6 advice: the previous persist had no unpersist path). For
    pathological group cardinalities (millions of groups) the CASE
    would bloat the plan; that regime wants the broadcast-join form —
    at that point the "groups" are really keys and a different operator
    applies. Rows with a NULL group are dropped (no temperature
    semantics without a group), but NULL-group rows still count toward
    N and the normalizer, exactly as before.
    """
    import math as _math
    from decimal import ROUND_HALF_UP, Decimal

    counts = [
        (r[0], r[1])
        for r in df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    if not counts:
        return df.filter(F.lit(False))
    tot = sum(n for _, n in counts)
    # pa_g = p_g^alpha with the same correctly-rounded primitives the
    # SQL oracle uses (sqrt for alpha=0.5; pow carries the documented
    # <=1-ulp caveat); the normalizer is summed exactly in Decimal
    # after HALF_UP quantization to 20 places, matching Spark/DuckDB's
    # CAST(x AS DECIMAL(38,20)) before the single cast back to double.
    pas = {}
    for g, n in counts:
        p = n / tot
        pas[g] = _math.sqrt(p) if alpha == 0.5 else p ** float(alpha)
    q20 = Decimal(1).scaleb(-20)
    s = float(
        sum(
            Decimal(pa).quantize(q20, rounding=ROUND_HALF_UP)
            for pa in pas.values()
        )
    )
    budget = float(_math.floor(float(tot) * float(budget_fraction)))
    thresholds = {
        g: int(_math.floor(budget * pas[g] / s / float(n) * 16777216.0))
        for g, n in counts
        if g is not None
    }
    thr_case = None
    for g, t in sorted(thresholds.items()):
        cond = F.col(group_col) == F.lit(g)
        thr_case = (
            F.when(cond, F.lit(t))
            if thr_case is None
            else thr_case.when(cond, F.lit(t))
        )
    if thr_case is None:  # only NULL groups exist
        return df.filter(F.lit(False))
    uniform = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 6),
        16,
        10,
    ).cast("long")
    return df.filter(uniform < thr_case)


def _exp_taylor(x: float, terms: int = 12) -> float:
    """exp(x) as an order-fixed Horner Taylor sum — NOT math.exp: libm
    implementations differ in the last ulp between Python and SQL
    engines, which flips a 6dp weight rounding on exact half
    boundaries (sf0.001 repro in pack_hedge_mix_weights). A pure
    +-*-/ Horner chain is bit-identical everywhere IEEE doubles are;
    |x| <= eta * max|excess| < 1 here, where 12 terms are exact to
    ~1e-16. The oracle inlines the same chain in the same order."""
    acc = 1.0
    for k in range(terms, 0, -1):
        acc = 1.0 + x * acc / k
    return acc


def hedge_mix_weights(
    df: DataFrame,
    loss: Column,
    domain_col: str = "source",
    id_col: str = "doc_id",
    rounds: int = 3,
    eta: float = 0.5,
    base_rate: float = 0.5,
    seed: str = "mix",
) -> DataFrame:
    """Multiplicative-weights (Hedge) domain reweighting — the
    optimization step of DoReMi-shaped training-mix tuning: domains
    whose EVALUATED loss exceeds the cross-domain mean get upweighted,
    eta-exponentially, round over round. Each round (1) draws a
    deterministic md5-coin sample whose per-domain inclusion rate is
    proportional to the CURRENT weight (so the evaluation feedback
    genuinely changes as the mixture moves — the engine-side analogue
    of re-evaluating the proxy model on the new mixture), (2) computes
    per-domain mean loss over the sample in ONE filtered aggregate,
    (3) collects k scalars and applies w <- w * exp(eta * excess),
    rounded to 6dp so independent engines stay bit-aligned.

    In a production DoReMi loop, step (2)'s loss column is the proxy
    model's per-example excess loss; here it is any deterministic
    per-row expression, which is what makes the full schedule
    value-hash-checkable. Scale: per round one map-only filter + one
    k-row aggregate; driver state is k weights. Nothing data-sized is
    ever collected. Returns (domain, weight, p_mix, last_loss,
    n_sampled_last) where last_* reflect the FINAL round's sample
    (NULL/0 for a domain the final sample missed)."""
    import math

    domains = sorted(r[0] for r in df.select(domain_col).distinct().collect())
    if not domains:
        raise ValueError("hedge_mix_weights: no domains")
    scored = df.select(
        F.col(id_col), F.col(domain_col).alias("_dom"), loss.alias("_loss")
    )
    w = {d: 1.0 for d in domains}
    final_obs: dict[str, tuple[float, int]] = {}
    for t in range(1, rounds + 1):
        # exact integer-sum of the 6dp-quantized weights: a float sum
        # ordered by Python dict insertion vs the oracle's SQL scan
        # order differs in the last ulp and can flip the 6dp round
        # (sf0.001 repro) — integers cannot
        mean_w = round(
            sum(int(round(v * 1e6)) for v in w.values()) / (1e6 * len(w)), 6
        )
        wmap = F.create_map(
            *[x for d in domains for x in (F.lit(d), F.lit(w[d]))]
        )
        wd = F.element_at(wmap, F.col("_dom"))
        u = phash.uniform(
            F.concat_ws(
                ":", F.lit(seed), F.lit(str(t)), F.col(id_col).cast("string")
            )
        )
        inc = u < F.least(
            F.lit(1.0), F.lit(base_rate) * wd / F.lit(mean_w)
        )
        rows = (
            scored.filter(inc)
            .groupBy("_dom")
            .agg(
                # per-row losses are 6dp-quantized: an exact integer sum
                # makes the domain mean independent of partition sum
                # order (a float AVG can flip its own 6dp rounding
                # between engines and poison ml downstream)
                F.round(
                    F.sum(F.round(F.col("_loss") * 1e6).cast("long"))
                    / (F.lit(1e6) * F.count(F.lit(1))),
                    6,
                ).alias("l"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        obs = {r._dom: (float(r.l), int(r.n)) for r in rows}
        final_obs = obs
        if obs:
            mean_l = round(
                sum(int(round(v[0] * 1e6)) for v in obs.values())
                / (1e6 * len(obs)),
                6,
            )
            for d, (lv, _n) in obs.items():
                w[d] = round(w[d] * _exp_taylor(eta * (lv - mean_l)), 6)
    total = sum(int(round(v * 1e6)) for v in w.values()) / 1e6
    out = [
        (
            d,
            w[d],
            round(w[d] / total, 6),
            final_obs.get(d, (None, 0))[0],
            final_obs.get(d, (None, 0))[1],
        )
        for d in domains
    ]
    return df.sparkSession.createDataFrame(
        out,
        "domain string, weight double, p_mix double, "
        "last_loss double, n_sampled_last long",
    )


def unimax_allocation(
    df: DataFrame,
    size_col: str,
    group_col: str = "lang",
    budget_fraction: float = 0.4,
    max_epochs: float = 2.0,
) -> DataFrame:
    """UniMax sampling allocation (Chung et al. 2023): split a token
    budget across groups (languages/domains) as UNIFORMLY as possible,
    capping each group at ``max_epochs`` passes over its data — the
    principled alternative to temperature sampling (no group is
    over-epoched into memorization to satisfy a power law).

    Closed-form water-filling, no driver loop: groups collapse to a
    k-row (group, n_tokens) relation (ONE fact aggregate — the only
    data-sized work), caps c_g = n_g·E sort ascending, and the capped
    prefix is the set of ranks j where c_j·(k−j+1) + P_{j−1} ≤ B
    (P = running cap sum); everything else gets the water level
    λ = (B − Σ capped c)/(k − j*). All windows run over the k-row
    relation (groups are languages — vocabulary-bounded, the
    centroid/codebook idiom), so the same SQL replays in any engine.
    Returns per group: (group, n_tokens, cap, alloc, epochs)."""
    from pyspark.sql import Window

    per = df.groupBy(group_col).agg(F.sum(size_col).alias("n"))
    tot = per.agg(F.floor(F.sum("n") * F.lit(budget_fraction)).alias("b"))
    w = Window.orderBy("c", group_col)
    wall = Window.partitionBy(F.lit(1))
    ranked = (
        per.withColumn("c", F.col("n") * F.lit(float(max_epochs)))
        .crossJoin(F.broadcast(tot))
        .withColumn("idx", F.row_number().over(w))
        .withColumn("p", F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("k", F.count(F.lit(1)).over(wall))
        .withColumn(
            "capped",
            F.col("c") * (F.col("k") - F.col("idx") + 1)
            + (F.col("p") - F.col("c"))
            <= F.col("b"),
        )
        .withColumn(
            "jstar",
            F.sum(F.col("capped").cast("int")).over(wall),
        )
        .withColumn(
            "p_capped",
            F.sum(F.when(F.col("capped"), F.col("c")).otherwise(0.0)).over(wall),
        )
    )
    lam = (F.col("b") - F.col("p_capped")) / (F.col("k") - F.col("jstar"))
    alloc = F.when(F.col("capped"), F.col("c")).otherwise(lam)
    return ranked.select(
        F.col(group_col),
        F.col("n").cast("long").alias("n_tokens"),
        F.round("c", 4).alias("cap"),
        F.round(alloc, 4).alias("alloc"),
        F.round(alloc / F.col("n"), 6).alias("epochs"),
    )


def feistel_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    out_col: str = "shuffle_pos",
    rounds: int = 3,
    key: int = 0x9E37,
    half_bits: int = 16,
) -> DataFrame:
    """Deterministic pseudorandom permutation of integer ids — the
    MAP-ONLY global shuffle a training pipeline needs before epoch
    packing: ``out_col`` is a bijection of ``id_col`` over the
    ``2^(2*half_bits)`` domain, so ordering (or range-bucketing) by it
    is a reproducible corpus shuffle with ZERO exchange — no sort, no
    rand() (nondeterministic under retry, which corrupts exactly-once
    writes), no shuffle of the data itself at assignment time.

    Balanced Feistel network: split the id into two ``half_bits``
    halves, ``rounds`` times do (L, R) -> (R, L xor F(R, i)) with the
    Knuth multiplicative round function F(x, i) = (x*2654435761 +
    key*i) mod 2^half_bits. Every operation is 63-bit-safe integer
    arithmetic (x < 2^16 so the product < 2^48), expressible
    identically in any SQL engine — the permutation is part of the
    dataset CONTRACT, not an engine artifact. Ids >= 2^(2*half_bits)
    would collide; callers with bigger domains raise half_bits.

    100 TB posture: a narrow projection + codegen'd arithmetic per row;
    the downstream writer range-partitions on out_col to materialize
    the shuffled order with one exchange that replaces the
    orderBy(rand()) sort-of-everything."""
    half_mod = 1 << half_bits
    idc = F.col(id_col).cast("long")
    left = F.shiftright(idc, half_bits) % F.lit(half_mod)
    right = idc % F.lit(half_mod)
    for i in range(1, rounds + 1):
        fx = (right * F.lit(2654435761) + F.lit(key * i)) % F.lit(half_mod)
        left, right = right, left.bitwiseXOR(fx)
    pos = (left * F.lit(half_mod) + right).alias(out_col)
    return df.withColumn(out_col, pos)
