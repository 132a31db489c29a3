"""Property-based tests (SURVEY §5.4): algebraic laws the engine's core
semantics must satisfy, driven by hypothesis over small generated frames.

Spark's per-action overhead dominates at this scale, so examples are few
but each is adversarially shrunk by hypothesis on failure.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hudi_utility_spark.ops.dedup import jaccard_pairs
from hudi_utility_spark.write import latest_by_key

KEYS = st.integers(min_value=0, max_value=3)
PRECOMBINE = st.integers(min_value=0, max_value=100)
ROWS = st.lists(st.tuples(KEYS, PRECOMBINE), min_size=1, max_size=12)

_SETTINGS = settings(
    # 9 examples (was 15): every example here runs full Spark actions,
    # and this module alone cost ~4.5 min of the suite's 35 — part of
    # keeping the whole suite inside the driver's verify budget (r12
    # VERDICT #3). Hypothesis draws fresh examples per run, so coverage
    # still accumulates across sessions; shrinking on failure is
    # unaffected.
    max_examples=9,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _latest_map(spark, rows):
    df = spark.createDataFrame(
        [(k, p, f"v{k}-{p}") for k, p in rows], ["k", "ts", "payload"]
    )
    out = latest_by_key(df, ["k"], "ts")
    return {r.k: r.ts for r in out.collect()}


@given(rows=ROWS)
@_SETTINGS
def test_latest_by_key_keeps_max_precombine(spark, rows):
    got = _latest_map(spark, rows)
    expected = {}
    for k, p in rows:
        expected[k] = max(expected.get(k, p), p)
    assert got == expected


@given(a=ROWS, b=ROWS)
@_SETTINGS
def test_upsert_order_independent_when_precombine_decides(spark, a, b):
    """upsert(a)∘upsert(b) ≡ upsert(b)∘upsert(a) for the surviving
    (key → max precombine) map — union order must not matter."""
    ab = _latest_map(spark, a + b)
    ba = _latest_map(spark, b + a)
    assert ab == ba


@given(rows=ROWS)
@_SETTINGS
def test_latest_by_key_idempotent(spark, rows):
    df = spark.createDataFrame(
        [(k, p, f"v{k}-{p}") for k, p in rows], ["k", "ts", "payload"]
    )
    once = latest_by_key(df, ["k"], "ts")
    twice = latest_by_key(once, ["k"], "ts")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


WORDS = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"]),
    min_size=1,
    max_size=6,
)


@given(docs=st.lists(WORDS, min_size=2, max_size=5))
@_SETTINGS
def test_jaccard_matches_python_model(spark, docs):
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], ["doc_id", "text"]
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(df, n=1, threshold=0.0).collect()
    }
    sets = [set(ws) for ws in docs]
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            inter = len(sets[i] & sets[j])
            if inter == 0:
                # pairs sharing nothing are never candidates
                assert (i, j) not in got
                continue
            expected = round(inter / len(sets[i] | sets[j]), 6)
            assert got.get((i, j)) == pytest.approx(expected)


TEXTS = st.lists(
    st.sampled_from(
        [
            "the quick brown fox jumps over the lazy dog in the morning and it is seen",
            "the quick brown fox jumps over the lazy dog in the morning and it is seen!!",
            "el la de que y los el la de que y los el la de que y los",
            "short one",
            "!!! ??? ;;; ### $$$ %%% @@@ ^^^",
        ]
    ),
    min_size=1,
    max_size=8,
)


@given(texts=TEXTS)
@_SETTINGS
def test_corpus_funnel_monotone_and_clean_idempotent(spark, texts):
    """Funnel counts never grow stage-over-stage, and cleaning an
    already-clean corpus is the identity (dedup/gate are idempotent)."""
    from hudi_utility_spark.ops.pipeline import clean_corpus, corpus_funnel

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    funnel = {r.stage: r.n_docs for r in corpus_funnel(df).collect()}
    assert funnel["00_raw"] == len(texts)
    assert funnel["00_raw"] >= funnel.get("10_dedup", 0) >= funnel.get("20_quality", 0)

    cleaned = clean_corpus(df).select("doc_id", "text")
    again = clean_corpus(cleaned).select("doc_id", "text")
    assert sorted(map(tuple, cleaned.collect())) == sorted(map(tuple, again.collect()))


EVENT_TIMES = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3), st.integers(min_value=0, max_value=7200)),
    min_size=1,
    max_size=10,
)


@given(leads=EVENT_TIMES, follows=EVENT_TIMES)
@_SETTINGS
def test_interval_join_matches_python_model(spark, leads, follows):
    """followed_within ≡ the quadratic python definition: same key,
    0 < follow - lead <= gap."""
    from hudi_utility_spark.streaming.joins import followed_within

    gap = 1800
    lrows = [(i, k, s) for i, (k, s) in enumerate(leads)]
    frows = [(1000 + i, k, s) for i, (k, s) in enumerate(follows)]

    def mk(rows):
        return spark.createDataFrame(rows, ["event_id", "user_id", "sec"]).withColumn(
            "ts", F.timestamp_seconds(F.col("sec"))
        )

    got = {
        (r.lead_id, r.follow_id)
        for r in followed_within(mk(lrows), mk(frows), gap_seconds=gap).collect()
    }
    expected = {
        (li, fi)
        for li, lk, ls in lrows
        for fi, fk, fs in frows
        if lk == fk and 0 < fs - ls <= gap
    }
    assert got == expected


# -- delete/tombstone algebra -------------------------------------------

OPS = st.lists(
    st.tuples(
        st.booleans(),  # True = delete, False = upsert
        KEYS,
        PRECOMBINE,
    ),
    min_size=1,
    max_size=10,
)


def _apply_python(ops):
    """Reference semantics: per key, the version with the highest
    precombine wins (delete beats upsert on ties iff applied later with
    equal precombine is ambiguous — generated precombines are made
    unique per key below to avoid the tie)."""
    state = {}
    for dead, k, p in ops:
        cur = state.get(k)
        if cur is None or p >= cur[0]:
            state[k] = (p, dead)
    return {k: p for k, (p, dead) in state.items() if not dead}


@given(ops=OPS)
@_SETTINGS
def test_tombstone_wins_by_precombine(spark, ops):
    """One merged resolution over upserts+tombstones must equal the
    sequential fold: alive keys = those whose max-precombine version is
    not a delete. Ties are broken deterministically by making the
    precombine unique per (key, op) pair."""
    from hudi_utility_spark.write import latest_by_key

    seen = set()
    uniq = []
    for dead, k, p in ops:
        while (k, p) in seen:
            p += 101  # de-tie, preserving relative order magnitudes
        seen.add((k, p))
        uniq.append((dead, k, p))

    df = spark.createDataFrame(
        [(k, p, dead) for dead, k, p in uniq], ["k", "ts", "_deleted"]
    )
    resolved = latest_by_key(df, ["k"], "ts").filter(~F.col("_deleted"))
    got = {r.k: r.ts for r in resolved.collect()}
    assert got == _apply_python(uniq)



# -- CDC labels -----------------------------------------------------------

_CDC_COMMITS = st.lists(
    st.tuples(
        st.booleans(),  # True = delete batch, False = upsert batch
        st.lists(st.tuples(KEYS, PRECOMBINE), min_size=1, max_size=4),
    ),
    min_size=1,
    max_size=3,
)


def _cdc_model(versions, since, until):
    """pandas model of incremental_cdc: per key, the max-precombine
    version committed by *until* is the winner; it is a change iff it
    was committed after *since*, and the key existed at *since* iff its
    max-precombine version committed by then is not a delete."""
    import pandas as pd

    v = pd.DataFrame(versions, columns=["k", "ts", "dead", "commit"])
    v = v[v["commit"] <= until].sort_values("ts", ascending=False)
    win = v.groupby("k").head(1).set_index("k")
    prior = v[v["commit"] <= since].groupby("k").head(1).set_index("k")
    existed = (~prior["dead"]).reindex(win.index, fill_value=False)
    out = {}
    for k, row in win[win["commit"] > since].iterrows():
        if row["dead"] and existed[k]:
            out[k] = ("delete", row["ts"])
        elif not row["dead"]:
            out[k] = ("update" if existed[k] else "insert", row["ts"])
    return out


@given(
    first=st.lists(st.tuples(KEYS, PRECOMBINE), min_size=1, max_size=4),
    commits=_CDC_COMMITS,
)
@_SETTINGS
def test_incremental_cdc_matches_pandas_model(spark, tmp_path_factory, first, commits):
    """CDC labels over random upsert/delete commit sequences equal the
    pandas model's, for every (since, until] window over the commits.
    Precombines are unique per key, so no winner is a tie."""
    from hudi_utility_spark.table import KeyedTable, TableType
    from hudi_utility_spark.timeline import EPOCH_INSTANT, incremental_cdc
    from hudi_utility_spark.write import delete_keys, upsert

    table = KeyedTable(
        path=str(tmp_path_factory.mktemp("cdc") / "t"),
        record_key=["k"],
        precombine="ts",
        table_type=TableType.MERGE_ON_READ,
    )
    instants = [f"2026010{i + 1}000000000" for i in range(len(commits) + 1)]
    seen, versions = set(), []
    for instant, (dead, rows) in zip(instants, [(False, first), *commits]):
        batch = {}
        for k, p in rows:
            while (k, p) in seen:
                p += 101
            seen.add((k, p))
            batch[k] = max(batch.get(k, p), p)  # one version per key a commit
        versions += [(k, p, dead, instant) for k, p in batch.items()]
        df = spark.createDataFrame(
            [(k, p, f"v{k}-{p}") for k, p in batch.items()],
            "k long, ts long, payload string",
        )
        if dead:
            delete_keys(spark, df.drop("payload"), table, commit_time=instant)
        else:
            upsert(spark, df, table, commit_time=instant)
    bounds = [EPOCH_INSTANT, *instants]
    for i, since in enumerate(bounds):
        for until in bounds[i + 1:]:
            got = {
                r.k: (r.op, r.ts)
                for r in incremental_cdc(spark, table, since, until).collect()
            }
            assert got == _cdc_model(versions, since, until), (since, until)

@given(
    s=st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
        max_size=40,
    ),
    i=st.integers(min_value=0, max_value=63),
)
@settings(max_examples=200, deadline=None)
def test_phash_python_duckdb_parity(s, i):
    """The portable hash family (ops/phash.py) must agree between the
    Python reference and DuckDB for arbitrary unicode input — the
    invariant every r3 oracle upgrade rests on (Spark parity is pinned
    separately in test_phash.py; per-example Spark actions would
    dominate here)."""
    import duckdb

    from hudi_utility_spark.ops import phash

    con = duckdb.connect()
    hi, lo = phash.sql_parts("?")
    sql = f"SELECT {phash.sql_hash64('?')}, {phash.sql_family(hi, lo, i)}"
    got = con.execute(sql, [s] * sql.count("?")).fetchone()
    assert got == (phash.py_hash64(s), phash.py_family(s, i))


def test_bench_headline_names_are_registered():
    """Every bench HEADLINE entry must be a registered query — a typo
    would silently record an error row instead of a timing."""
    import bench
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, missing


@given(rows=st.lists(
    st.tuples(KEYS, PRECOMBINE, st.one_of(st.none(), st.integers(0, 9)),
              st.one_of(st.none(), st.integers(0, 9))),
    min_size=1, max_size=10,
))
@_SETTINGS
def test_resolve_partial_matches_python_fold(spark, rows):
    """Partial-update resolution ≡ the sequential per-key fold: replay
    versions in precombine order, each non-null column overwrites.
    Precombines are de-tied per key (Hudi leaves equal-precombine
    partial merges unordered)."""
    from hudi_utility_spark.write import resolve_partial

    seen, uniq = set(), []
    for k, p, a, b in rows:
        while (k, p) in seen:
            p += 101
        seen.add((k, p))
        uniq.append((k, p, a, b))

    df = spark.createDataFrame(uniq, "k INT, ts INT, a INT, b INT")
    got = {r.k: (r.ts, r.a, r.b) for r in resolve_partial(df, ["k"], "ts").collect()}

    expected = {}
    for k, p, a, b in sorted(uniq, key=lambda t: (t[0], t[1])):
        pa, pb = expected.get(k, (None, None, None))[1:] if k in expected else (None, None)
        expected[k] = (p, a if a is not None else pa, b if b is not None else pb)
    assert got == expected


@given(rows=st.lists(
    st.tuples(KEYS, PRECOMBINE, st.one_of(st.none(), st.integers(0, 9))),
    min_size=1, max_size=10,
))
@_SETTINGS
def test_resolve_partial_on_full_rows_equals_latest_by_key(spark, rows):
    """When every version carries every column (no NULLs), partial
    resolution degenerates to plain latest-by-key."""
    from hudi_utility_spark.write import resolve_partial

    seen, uniq = set(), []
    for k, p, a in rows:
        while (k, p) in seen:
            p += 101
        seen.add((k, p))
        uniq.append((k, p, a if a is not None else 0))
    df = spark.createDataFrame(uniq, "k INT, ts INT, a INT")
    got = sorted(map(tuple, resolve_partial(df, ["k"], "ts").collect()))
    want = sorted(map(tuple, latest_by_key(df, ["k"], "ts").collect()))
    assert got == want


# --- SCD2: incremental apply ≡ batch rebuild for ANY time-ordered split ---

_SCD_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),   # key
        st.integers(min_value=0, max_value=20),  # ts (day offset)
        st.sampled_from(["A", "B", None]),       # tracked attr (incl. NULL)
    ),
    min_size=1,
    max_size=14,
    unique_by=lambda r: (r[0], r[1]),  # one change per (key, ts)
)


def _scd_frame(spark, rows):
    import datetime as dt

    data = [
        (k, dt.datetime(2024, 1, 1) + dt.timedelta(days=t), a)
        for k, t, a in rows
    ]
    return spark.createDataFrame(data, "k int, ts timestamp, attr string")


@given(rows=_SCD_ROWS, cut=st.integers(min_value=0, max_value=21))
@_SETTINGS
def test_scd2_apply_equals_rebuild_any_split(spark, rows, cut):
    import datetime as dt

    from hudi_utility_spark.scd import scd2_apply, scd2_from_history

    df = _scd_frame(spark, rows)
    boundary = dt.datetime(2024, 1, 1) + dt.timedelta(days=cut)
    hist = df.filter(F.col("ts") < F.lit(boundary))
    changes = df.filter(F.col("ts") >= F.lit(boundary))
    batch = scd2_from_history(df, ["k"], "ts", ["attr"])
    if hist.isEmpty():
        merged = scd2_from_history(changes, ["k"], "ts", ["attr"])
    else:
        dim = scd2_from_history(hist, ["k"], "ts", ["attr"])
        merged = scd2_apply(dim, changes, ["k"], "ts", ["attr"])
    assert merged.exceptAll(batch).isEmpty()
    assert batch.exceptAll(merged).isEmpty()


# --- MERGE INTO vs a row-by-row Python reference model ---

_MERGE_TARGET = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 100)),  # (id, value)
    min_size=1,
    max_size=8,
    unique_by=lambda r: r[0],
)
_MERGE_SOURCE = st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 100)),
    min_size=0,
    max_size=8,
    unique_by=lambda r: r[0],
)


@given(target=_MERGE_TARGET, source=_MERGE_SOURCE)
@_SETTINGS
def test_merge_into_unpartitioned_matches_reference_model(
    spark, target, source, tmp_path_factory
):
    from hudi_utility_spark.table import KeyedTable, TableType
    from hudi_utility_spark.write import merge_into, upsert

    root = tmp_path_factory.mktemp("mrg")
    table = KeyedTable(
        path=str(root / "t"),
        record_key=["id"],
        precombine="pc",
        partition_fields=[],
        table_type=TableType.COPY_ON_WRITE,
    )
    upsert(
        spark,
        spark.createDataFrame(
            [(i, 1, float(v)) for i, v in target], "id long, pc long, value double"
        ),
        table,
    )
    src = spark.createDataFrame(
        [(i, 2, float(v)) for i, v in source], "id long, pc long, value double"
    )
    merge_into(
        spark,
        src,
        table,
        update_set={"value": "t.value + s.value"},
        update_condition="s.value >= 50",
        delete_condition="s.value < 10",
    )
    got = {r["id"]: r["value"] for r in table.read(spark).collect()}

    # reference model: delete wins, then conditional update, then insert
    model = {i: float(v) for i, v in target}
    for i, v in source:
        if i in model:
            if v < 10:
                del model[i]
            elif v >= 50:
                model[i] = model[i] + v
        else:
            model[i] = float(v)
    assert got == model


# --- span dedup: every distinct span survives exactly once, corpus-wide ---

_WORDS = st.sampled_from(["a", "b", "c"])
_DOCS = st.lists(
    st.lists(_WORDS, min_size=2, max_size=8),
    min_size=1,
    max_size=6,
)


@given(docs=_DOCS)
@_SETTINGS
def test_dedup_spans_conservation(spark, docs):
    from hudi_utility_spark.ops.text import dedup_spans

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_spans(df, span_tokens=2).collect()

    # expected span multiset per doc (non-overlapping 2-word windows,
    # short tail kept)
    def spans(ws):
        return [" ".join(ws[i : i + 2]) for i in range(0, len(ws), 2)]

    all_spans = [s for ws in docs for s in spans(ws)]
    distinct = set(all_spans)
    got_total = sum(r["n_spans"] for r in out)
    got_kept = sum(r["n_kept"] for r in out)
    assert got_total == len(all_spans)  # nothing lost before dedup
    assert got_kept == len(distinct)  # each distinct span survives ONCE
    # rebuilt docs contain only kept spans, in order, space-joined
    kept_spans = []
    for r in sorted(out, key=lambda r: r["doc_id"]):
        if r["rebuilt"]:
            kept_spans.extend(r["rebuilt"].split(" "))
    # every rebuilt token multiset ⊆ original corpus tokens
    assert len(kept_spans) <= sum(len(ws) for ws in docs)


# ---------------------------------------------------------------------------
# MERGE INTO vs a Python reference model (ANSI semantics: NULL clause
# predicates are not taken; source precombines to latest-per-key first;
# delete outranks update; insert defaults to the source column)
# ---------------------------------------------------------------------------

_MERGE_IDS = st.integers(min_value=0, max_value=4)
_MERGE_VALS = st.one_of(st.none(), st.integers(min_value=-5, max_value=50))

_TGT_ROWS = st.lists(
    st.tuples(_MERGE_IDS, _MERGE_VALS),
    min_size=1,
    max_size=5,
    unique_by=lambda t: t[0],
)
_SRC_ROWS = st.lists(
    st.tuples(_MERGE_IDS, st.integers(min_value=1, max_value=9), _MERGE_VALS),
    max_size=8,
    unique_by=lambda t: (t[0], t[1]),  # unique precombine per key: ties
    # between equal precombine values are resolved arbitrarily (as in
    # Hudi), so the model only covers the deterministic space
)

# (SQL text evaluated by merge_into, python twin over (s_value, t_value));
# NULL SQL results must map to False ("clause not taken")
_CONDS = st.sampled_from(
    [
        (None, None),
        ("s.value > t.value", lambda s, t: s is not None and t is not None and s > t),
        ("s.value IS NULL", lambda s, t: s is None),
        ("t.value >= 10", lambda s, t: t is not None and t >= 10),
        ("s.value + t.value > 20", lambda s, t: s is not None and t is not None and s + t > 20),
    ]
)
_UPDATES = st.sampled_from(
    [
        ("s.value", lambda s, t: s),
        ("t.value + s.value", lambda s, t: None if (s is None or t is None) else t + s),
    ]
)
_INS_CONDS = st.sampled_from(
    [
        (None, None),
        ("s.value >= 0", lambda s: s is not None and s >= 0),
        ("s.value IS NOT NULL", lambda s: s is not None),
    ]
)

_merge_case_counter = [0]


@given(
    tgt=_TGT_ROWS,
    src=_SRC_ROWS,
    del_c=_CONDS,
    upd_c=_CONDS,
    upd=_UPDATES,
    ins_c=_INS_CONDS,
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_merge_into_matches_reference_model(spark, tmp_path_factory, tgt, src, del_c, upd_c, upd, ins_c):
    from hudi_utility_spark.table import KeyedTable, TableType
    from hudi_utility_spark.write import merge_into, upsert

    _merge_case_counter[0] += 1
    base = tmp_path_factory.mktemp(f"merge_prop_{_merge_case_counter[0]}")
    table = KeyedTable(
        path=str(base / "t"),
        record_key=["id"],
        precombine="v",
        partition_fields=["part"],
        table_type=TableType.COPY_ON_WRITE,
    )
    part_of = lambda i: "a" if i % 2 == 0 else "b"
    upsert(
        spark,
        spark.createDataFrame(
            [(i, 0, part_of(i), float(x) if x is not None else None) for i, x in tgt],
            "id long, v long, part string, value double",
        ),
        table,
    )
    src_df = spark.createDataFrame(
        [(i, v, part_of(i), float(x) if x is not None else None) for i, v, x in src],
        "id long, v long, part string, value double",
    )
    merge_into(
        spark,
        src_df,
        table,
        update_set={"value": upd[0]},
        update_condition=upd_c[0],
        delete_condition=del_c[0],
        insert_condition=ins_c[0],
    )
    got = {r["id"]: r["value"] for r in table.read(spark).collect()}

    # reference model
    model = {i: (float(x) if x is not None else None) for i, x in tgt}
    latest = {}
    for i, v, x in src:
        if i not in latest or v > latest[i][0]:
            latest[i] = (v, float(x) if x is not None else None)
    for i, (_, s_val) in sorted(latest.items()):
        if i in model:
            t_val = model[i]
            if del_c[1] is not None and del_c[1](s_val, t_val):
                del model[i]
            elif upd_c[0] is None or upd_c[1](s_val, t_val):
                model[i] = upd[1](s_val, t_val)
        else:
            if ins_c[0] is None or ins_c[1](s_val):
                model[i] = s_val
    assert got == model, (got, model, tgt, src, del_c[0], upd_c[0], upd[0], ins_c[0])


# -- as-of join vs the quadratic python model ---------------------------

ASOF_LEFT = st.lists(
    st.tuples(KEYS, st.integers(min_value=0, max_value=50)),
    min_size=1,
    max_size=10,
)
ASOF_RIGHT = st.lists(
    st.tuples(KEYS, st.integers(min_value=0, max_value=50)),
    min_size=0,
    max_size=10,
)
ASOF_TOL = st.sampled_from([None, 5, 20])


def _asof_python(lrows, rrows, direction, tol):
    """Brute-force as-of: per left row, the nearest right row at-or-
    before (backward) / at-or-after (forward) on the same key, within
    tolerance when given."""
    out = {}
    for li, lk, ls in lrows:
        best = None
        for rk, rs, rv in rrows:
            if rk != lk:
                continue
            delta = ls - rs if direction == "backward" else rs - ls
            if delta < 0 or (tol is not None and delta > tol):
                continue
            if best is None or delta < best[0]:
                best = (delta, rv)
        out[li] = best[1] if best else None
    return out


@given(left=ASOF_LEFT, right=ASOF_RIGHT, tol=ASOF_TOL,
       direction=st.sampled_from(["backward", "forward"]))
@_SETTINGS
def test_asof_join_matches_python_model(spark, left, right, tol, direction):
    from hudi_utility_spark.ops.joins import asof_join

    # unique right ts per key: at equal timestamps the window's pick
    # among duplicate right rows is tie-ambiguous by design
    rmap = {}
    for k, s in right:
        rmap[(k, s)] = f"r{k}-{s}"
    rrows = [(k, s, v) for (k, s), v in rmap.items()]
    lrows = [(i, k, s) for i, (k, s) in enumerate(left)]

    ldf = spark.createDataFrame(lrows, "lid long, k long, sec long").withColumn(
        "ts", F.timestamp_seconds(F.col("sec"))
    ).drop("sec")
    rdf = spark.createDataFrame(rrows, "k long, sec long, val string").withColumn(
        "ts", F.timestamp_seconds(F.col("sec"))
    ).drop("sec")

    got = {
        r.lid: r.val_right
        for r in asof_join(
            ldf, rdf, on=["k"], tolerance_seconds=tol, direction=direction
        ).collect()
    }
    assert got == _asof_python(lrows, rrows, direction, tol)


WORDS = st.lists(
    st.sampled_from(["a", "b", "c", "d", "e"]), min_size=0, max_size=12
)


@given(
    docs=st.lists(WORDS, min_size=1, max_size=6),
    phrase=st.lists(
        st.sampled_from(["a", "b", "c"]), min_size=1, max_size=3
    ),
)
@_SETTINGS
def test_phrase_match_matches_python_scan(spark, docs, phrase):
    """phrase_match over the positional index ≡ a naive Python sliding
    scan, including overlapping and repeated-term phrases."""
    from hudi_utility_spark.ops.retrieval import (
        phrase_match,
        positional_postings,
    )

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.n_matches, r.first_pos)
        for r in phrase_match(positional_postings(df), " ".join(phrase)).collect()
    }
    want = {}
    n = len(phrase)
    for i, ws in enumerate(docs):
        starts = [
            p + 1
            for p in range(len(ws) - n + 1)
            if ws[p : p + n] == phrase
        ]
        if starts:
            want[i] = (len(starts), starts[0])
    assert got == want


@given(
    ts=st.lists(
        st.integers(min_value=0, max_value=50), min_size=0, max_size=15
    ),
    gap=st.integers(min_value=1, max_value=10),
    cut=st.integers(min_value=0, max_value=15),
)
@_SETTINGS
def test_fold_session_events_split_equals_whole(ts, gap, cut):
    """Folding a timestamp stream in two chunks (state carried) yields
    the same closed+open sessions as folding it at once — the property
    that makes the stateful processor correct across micro-batches."""
    from hudi_utility_spark.streaming.stateful import fold_session_events

    s = sorted(ts)
    cut = min(cut, len(s))
    whole_closed, whole_open = fold_session_events(None, s, gap)
    c1, open1 = fold_session_events(None, s[:cut], gap)
    c2, open2 = fold_session_events(open1, s[cut:], gap)
    assert c1 + c2 == whole_closed
    assert open2 == whole_open


# ---- round-9 wave-B property tests: Spark op vs tiny pure-Python ----
# ---- reference implementation over hypothesis-generated inputs   ----

EDGE = st.tuples(
    st.integers(min_value=0, max_value=6), st.integers(min_value=0, max_value=6)
)
EDGES = st.lists(EDGE, min_size=1, max_size=12)


@given(edges=EDGES, seed=st.integers(min_value=0, max_value=6))
@_SETTINGS
def test_bfs_hops_matches_python_bfs(spark, edges, seed):
    from collections import deque

    from hudi_utility_spark.ops.graph import bfs_hops, symmetrize

    edges = [(u, v) for u, v in edges if u != v]
    if not edges:
        return
    # python reference BFS over the undirected graph
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    expect = {seed: 0}
    q = deque([seed])
    while q:
        n = q.popleft()
        if expect[n] >= 4:
            continue
        for m in adj.get(n, ()):  # noqa: B905
            if m not in expect:
                expect[m] = expect[n] + 1
                q.append(m)
    df = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(seed,)], ["node"])
    got = {
        r["node"]: r["dist"]
        for r in bfs_hops(symmetrize(df), seeds, max_hops=4).collect()
    }
    # seed may be isolated (not in edge list): reference still has it at 0
    assert got == expect


PAIRS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),
        st.integers(min_value=0, max_value=5),
    ),
    min_size=2,
    max_size=14,
)


@given(xy=PAIRS)
@_SETTINGS
def test_kendall_tau_matches_python(spark, xy):
    """The registered query's tau-b math vs a brute-force reference:
    same concordant/discordant/ties over all pairs."""
    import itertools
    import math

    import pandas as pd

    # need at least two distinct x and two distinct y for a defined tau
    if len({x for x, _ in xy}) < 2 or len({y for _, y in xy}) < 2:
        return
    rows = []
    days = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        range(len(xy)), unit="D"
    )
    oid = 0
    for (x, y), d in zip(xy, days):
        # day i gets x+1 orders summing to y (one order of y, x extra of 0)
        rows.append((oid, d, float(y))); oid += 1
        for _ in range(x):
            rows.append((oid, d, 0.0)); oid += 1
    import tempfile, os

    with tempfile.TemporaryDirectory() as td:
        pd.DataFrame(
            rows, columns=["o_orderkey", "o_orderdate", "o_totalprice"]
        ).to_parquet(os.path.join(td, "orders.parquet"))
        from hudi_utility_spark.queries import QUERIES, load_all

        load_all()
        r = QUERIES["stat_kendall_tau"](spark, td).collect()[0]
    xs = [x + 1 for x, _ in xy]  # order count per day
    ys = [float(y) for _, y in xy]
    c = d_ = 0
    for (i, j) in itertools.combinations(range(len(xy)), 2):
        prod = (xs[i] - xs[j]) * (ys[i] - ys[j])
        if prod > 0:
            c += 1
        elif prod < 0:
            d_ += 1
    n = len(xy)
    n0 = n * (n - 1) / 2

    def ties(vals):
        from collections import Counter

        return sum(t * (t - 1) / 2 for t in Counter(vals).values())

    denom = math.sqrt((n0 - ties(xs)) * (n0 - ties(ys)))
    assert r["concordant"] == c and r["discordant"] == d_
    if denom > 0:
        assert abs(r["tau_b"] - round((c - d_) / denom, 6)) < 1e-6


COUNTS = st.lists(st.integers(min_value=1, max_value=12), min_size=1, max_size=20)


@given(counts=COUNTS)
@_SETTINGS
def test_good_turing_matches_python(spark, counts):
    """gt_count identity on arbitrary count multisets, via a scratch
    corpus where doc i is a repeated unique trigram."""
    import os
    import tempfile
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    # doc i repeats its unique trigram "ai bi ci" counts[i] times, with
    # a per-repeat unique filler token between repeats so overlapping
    # trigrams don't collide
    texts = []
    for i, k in enumerate(counts):
        parts = []
        for j in range(k):
            parts.append(f"a{i} b{i} c{i}")
            parts.append(f"x{i}y{j}z")  # filler breaks overlap trigrams
        texts.append(" ".join(parts))
    with tempfile.TemporaryDirectory() as td:
        pd.DataFrame(
            {"doc_id": range(len(texts)), "text": texts}
        ).to_parquet(os.path.join(td, "documents.parquet"))
        from hudi_utility_spark.queries import QUERIES, load_all

        load_all()
        rows = {
            r["r"]: r
            for r in QUERIES["text_good_turing"](spark, td).collect()
        }
    # the reference count-of-counts includes BOTH target trigrams and the
    # filler-induced ones; replicate tokenization in python instead
    import re

    def norm_tokens(t):
        t = re.sub(r"[^a-z0-9\s]", " ", t.lower())
        t = re.sub(r"\s+", " ", t).strip()
        return [w for w in t.split(" ") if w]

    grams = Counter()
    for t in texts:
        toks = norm_tokens(t)
        for i in range(len(toks) - 2):
            grams[" ".join(toks[i : i + 3])] += 1
    coc = Counter(v for v in grams.values() if v <= 11)
    for r_val in range(1, 11):
        if coc.get(r_val):
            row = rows[r_val]
            assert row["n_types"] == coc[r_val]
            expect_gt = (r_val + 1) * coc.get(r_val + 1, 0) / coc[r_val]
            # Spark's ROUND rounds a tie half up; Python's round() takes
            # the even neighbour (0.0078125 -> 0.007812, Spark 0.007813)
            want = Decimal(repr(expect_gt)).quantize(
                Decimal("1e-6"), rounding=ROUND_HALF_UP
            )
            assert abs(row["gt_count"] - float(want)) < 1e-6
        else:
            assert r_val not in rows
