"""Oracle-checked windowed-aggregation queries (batch form of the
streaming operators — F.window semantics are identical in batch, which is
what makes them oracle-checkable; the streaming execution path is
exercised in tests/test_streaming.py with real readStream/watermarks).
"""

from __future__ import annotations

import contextlib
import glob as _glob
import os as _os
import threading
import time as _time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.queries import (
    EVENTS_RESOLVED,
    events_table,
    fresh_scratch,
    query,
)
from hudi_utility_spark.streaming.windows import (
    session_windows_batch,
    sliding_counts,
    tumbling_counts,
)
from hudi_utility_spark.tables import load_table
from hudi_utility_spark.tsutil import us


# click -> purchase within 30 minutes per user, shared by the batch twin
# and the true streaming interval join
_INTERVAL_JOIN_ORACLE = """
    SELECT c.user_id AS user_id,
           c.event_id AS lead_id,
           p.event_id AS follow_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """

# 5-minute tumbling-window counts per event type, shared by the batch
# twin and the true streaming replay
_TUMBLING_ORACLE = """
    SELECT CAST(floor(epoch(ts) / 300) * 300 * 1000000 AS BIGINT) AS window_start_us,
           event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """

# closed form of the per-user EWMA recursion (alpha 0.3), shared by the
# batch twin and the transformWithState processor
_EWMA_ORACLE = """
    WITH ordered AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM events
    )
    SELECT user_id,
           ROUND(SUM(CASE WHEN rn = 1 THEN POW(0.7, n - 1) * value
                          ELSE 0.3 * POW(0.7, n - rn) * value END), 4) AS ewma,
           MAX(n) AS n_events
    FROM ordered GROUP BY user_id
    """


def _replay_width(root: str) -> int:
    """State-store width for the JVM-only stateful replays (watermark
    agg, stream-stream join, streaming dedup), derived from the replay
    input's MEASURED byte size instead of a constant (guide §2: a width
    tuned for one SF ruins the other — measured on tmpfs, isolated warm
    medians: at sf0.01 the interval join reads 3.7 s at width 4 vs
    5.1 s at 8, while at sf0.1 the dedup replay reads 2.4 s at 8 vs
    4.5 s at 4). Stores-per-query = width × stores-per-operator (a
    stream-stream join keeps 4 per partition) and every store pays an
    open+commit per micro-batch, so small replays want few stores;
    larger replays need the task parallelism. ~256 KB of input per
    state partition, clamped to [4, 16] locally; the walk is plain
    os.walk over the files this query just wrote (no Spark job). The
    transformWithState (Python state server) queries keep their
    separately-measured optimum of 8 (r12: 8 beat both 2 and 32 — the
    Python worker parallelism dominates there, not store count). At
    100 TB this width is keys-per-executor-sized."""
    total = 0
    for dirpath, _dirs, files in _os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                try:
                    total += _os.path.getsize(_os.path.join(dirpath, f))
                except OSError:
                    pass
    return min(16, max(4, total // (256 * 1024)))


def _replay(spark: SparkSession, schema, root: str) -> DataFrame:
    """The parquet files under *root* as a stream, one file per
    micro-batch, oldest modification time first."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(root)
    )


def _append_file(df: DataFrame, root: str) -> set[str]:
    """Append *df* to the replay directory *root* as one file; the
    files it added."""
    before = set(_glob.glob(_os.path.join(root, "*.parquet")))
    df.coalesce(1).write.mode("append").parquet(root)
    return set(_glob.glob(_os.path.join(root, "*.parquet"))) - before


def _pin_batches(*batches: set[str]) -> None:
    """Stamp each file set one minute after the one before it, so
    `_replay` delivers them in this order under any scheduler load."""
    now = _time.time()
    for order, files in enumerate(batches):
        for f in files:
            t = now + order * 60
            _os.utime(f, (t, t))


def _drain_to_memory(df: DataFrame, sink: str, mode: str, ckpt: str) -> None:
    """Run the stream *df* into the memory table *sink* in output *mode*
    until its input is drained, then stop it."""
    q = (
        df.writeStream.format("memory")
        .queryName(sink)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()


@contextlib.contextmanager
def _rocksdb_state(spark: SparkSession):
    """RocksDB state stores and 8 shuffle partitions for a
    transformWithState replay; both confs are restored on exit. Each
    partition opens and checkpoints its own store per micro-batch, so
    32 stores for a 10k-row replay was measured 2x slower (44.9s vs
    16.3s warm). Cluster-size this to keys/executor in production."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    pkey = "spark.sql.shuffle.partitions"
    pprev = spark.conf.get(pkey, None)
    spark.conf.set(pkey, "8")
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
        if pprev is None:
            spark.conf.unset(pkey)
        else:
            spark.conf.set(pkey, pprev)


class _scoped_shuffle_partitions:
    """Temporarily lower ``spark.sql.shuffle.partitions`` around a
    bounded streaming replay. The number of STATE-STORE partitions is
    fixed from this conf at the first micro-batch of a (fresh)
    checkpoint, and every micro-batch pays per-partition state
    bookkeeping — at the gate's toy SF, 32 state partitions × N batches
    is almost pure overhead (measured 36 s → ~1/3 for the 4-batch
    stream-stream interval join). Queries using this always create a
    fresh checkpoint, so the lowered value never conflicts with a
    resumed stream; results are partition-count-independent (keyed
    state). At 100 TB the conf stays at the cluster default — this is
    a test-scale replay knob, applied per-run and always restored.

    CONCURRENCY CONTRACT: the conf is SESSION-GLOBAL, so a concurrent
    query planning in the same session while a scope is open would
    transiently see the lowered value. The gate/bench drivers run
    every ``sequential=True`` query outside their parallel phases, so
    scopes never overlap there; a process-wide lock serializes any
    other same-process users (e.g. a shared-session pytest fixture) so
    misuse degrades to waiting, never to planning with 8 partitions."""

    _lock = threading.Lock()

    def __init__(self, spark: SparkSession, n: int):
        self._spark, self._n = spark, n

    def __enter__(self):
        self._lock.acquire()
        self._old = self._spark.conf.get("spark.sql.shuffle.partitions")
        self._spark.conf.set("spark.sql.shuffle.partitions", str(self._n))

    def __exit__(self, *exc):
        try:
            self._spark.conf.set(
                "spark.sql.shuffle.partitions", self._old
            )
        finally:
            self._lock.release()
        return False


@query(
    "stream_tumbling_counts",
    _TUMBLING_ORACLE,
    sequential=True,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling windows per event type (epoch-aligned, matching
    F.window's origin)."""
    ev = load_table(spark, sf_dir, "events")
    return tumbling_counts(ev, width="5 minutes")


@query(
    "stream_sliding_counts",
    """
    SELECT CAST((s.slide_start) * 1000000 AS BIGINT) AS window_start_us,
           CAST((s.slide_start + 600) * 1000000 AS BIGINT) AS window_end_us,
           event_type,
           COUNT(*) AS cnt
    FROM events,
         LATERAL (
            SELECT unnest([floor(epoch(ts) / 300) * 300 - 300,
                           floor(epoch(ts) / 300) * 300]) AS slide_start
         ) s
    WHERE epoch(ts) >= s.slide_start AND epoch(ts) < s.slide_start + 600
    GROUP BY 1, 2, 3
    """,
    sequential=True,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 — each event lands in 2 windows
    (the lateral-unnest in the oracle mirrors Spark's window expansion)."""
    ev = load_table(spark, sf_dir, "events")
    return sliding_counts(ev, width="10 minutes", slide="5 minutes")


@query(
    "stream_sessionization",
    """
    WITH marked AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS gap_break
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessioned AS (
        SELECT *, CAST(SUM(gap_break) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        FROM marked
    )
    SELECT user_id, session_seq,
           COUNT(*) AS n_events,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts)) AS session_end_us,
           ROUND(SUM(value), 2) AS session_value
    FROM sessioned GROUP BY user_id, session_seq
    """,
    sequential=True,
)
def stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization (lag + cumsum batch form; the
    streaming twin uses F.session_window — tests/test_streaming.py)."""
    ev = load_table(spark, sf_dir, "events")
    return session_windows_batch(ev, gap_minutes=30)


@query(
    "stream_static_enrich",
    """
    SELECT e.event_id, e.user_id, e.event_type,
           c.c_mktsegment AS segment, c.c_nationkey AS nationkey
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
    sequential=True,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment, batch twin: every event joined
    to the customer dimension under an explicit broadcast hint — the
    stream side never shuffles. True-streaming parity (append mode, no
    state store, per-micro-batch dim re-read) in
    tests/test_streaming_joins.py."""
    from hudi_utility_spark.streaming.joins import enrich_with_dim

    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    return enrich_with_dim(
        ev.select("event_id", "user_id", "event_type"),
        cust,
        key="user_id",
        dim_key="c_custkey",
        dim_cols=["c_mktsegment", "c_nationkey"],
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nationkey"),
    )


@query(
    "stream_interval_join",
    _INTERVAL_JOIN_ORACLE,
    sequential=True,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase funnel: stream-stream interval join, batch twin.
    Streaming parity (watermarks both sides, append mode, bounded state)
    in tests/test_streaming_joins.py."""
    from hudi_utility_spark.streaming.joins import followed_within

    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import functions as F

    return followed_within(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        gap_seconds=1800,
    )


@query(
    "stream_running_ewma",
    _EWMA_ORACLE,
    sequential=True,
)
def stream_running_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key running EWMA (batch twin of the applyInPandasWithState
    operator — streaming parity in tests/test_streaming_stateful.py).
    The oracle uses the closed form of the same recursion:
    ewma_n = (1-a)^(n-1) v_1 + sum_i a (1-a)^(n-i) v_i."""
    from pyspark.sql import functions as F

    from hudi_utility_spark.streaming.stateful import running_ewma_batch

    ev = load_table(spark, sf_dir, "events")
    out = running_ewma_batch(ev, alpha=0.3)
    return out.select("user_id", F.round("ewma", 4).alias("ewma"), "n_events")


@query(
    "stream_trending_topk",
    """
    WITH wc AS (
        SELECT CAST(floor(epoch(ts) / 900) * 900 * 1000000 AS BIGINT)
                   AS window_start_us,
               event_type,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    )
    SELECT window_start_us, event_type, cnt, rnk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY window_start_us
            ORDER BY cnt DESC, event_type) AS INTEGER) AS rnk
        FROM wc
    ) WHERE rnk <= 3
    """,
    sequential=True,
)
def stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-3 event types per 15-minute tumbling window —
    incremental windowed counts + a per-window bounded ranking
    (streaming splits the plan at the aggregation boundary; parity
    pinned in tests/test_streaming_windows.py)."""
    from hudi_utility_spark.streaming.windows import trending_topk

    ev = load_table(spark, sf_dir, "events")
    return trending_topk(ev, width="15 minutes", k=3)


@query(
    "stream_true_tumbling",
    _TUMBLING_ORACLE,
    sequential=True,
)
def stream_true_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming execution of the tumbling-window aggregate — not
    the batch twin: the events table is replayed through
    ``readStream.parquet`` with ``maxFilesPerTrigger=1`` (multiple real
    micro-batches), aggregated incrementally through the state store in
    COMPLETE output mode into a memory sink, and the sink's final table
    is the result. Because the bounded replay delivers every row
    exactly once and complete mode emits the full aggregate, the
    streaming result must equal the batch oracle value-for-value — the
    equivalence Structured Streaming promises, here under the driver's
    value-hash gate rather than a unit test. Bench-measurable true
    streaming cost (SCALE.md round-6 advice #8)."""
    import os
    import uuid

    from hudi_utility_spark.streaming.windows import tumbling_counts
    from hudi_utility_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    # µs-timestamp replay dir (readStream cannot apply load_table's
    # ns→µs conversion); deterministic per-SF path, rewritten per run
    root = fresh_scratch(sf_dir, "true_stream")
    # two files → two real micro-batches: cross-batch incremental state
    # is still exercised, at half the per-batch fixed cost (planning,
    # WAL, one state-store open+commit per partition per batch) of the
    # old 4-file replay — guide §2/§5 "fewer, fatter micro-batches";
    # complete-mode output is batching-invariant, so the result (and
    # the oracle hash) is unchanged.
    ev.coalesce(2).write.parquet(root)
    sink = f"true_tumbling_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(root, "_ckpt")
    stream = _replay(spark, ev.schema, root)
    with _scoped_shuffle_partitions(spark, _replay_width(root)):
        _drain_to_memory(
            tumbling_counts(stream, width="5 minutes"), sink, "complete", ckpt
        )
    return spark.table(sink).select(
        "window_start_us", "event_type", "cnt", "total_value"
    )


@query(
    "stream_dedup_watermark",
    """
    SELECT event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
    sequential=True,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming exactly-once dedup under a watermark: the events
    table is written to the replay dir TWICE (every row a duplicate),
    replayed file-per-micro-batch, and streamed through
    ``withWatermark("ts", ...) .dropDuplicatesWithinWatermark(["event_id"])``
    — the bounded-state streaming dedup (state for a key is dropped once
    the watermark passes ts + delay, so state size tracks the late-data
    horizon, not the stream's lifetime). The deduped APPEND stream lands
    in a memory sink; aggregating the sink must reproduce the
    single-copy batch aggregate exactly — each event_id survives exactly
    once no matter which replayed copy arrived first (copies are
    identical, so the survivor is value-identical).

    100 TB posture: state is hash-partitioned by event_id across the
    cluster's state stores; the watermark delay is THE knob — state held
    = keys arriving within the delay window, not total keys. The
    reference has no streaming dedup at all (`app.py` batch-only);
    this is the Spark-first upgrade of its A5 key-dedup to a stream.
    """
    import os
    import uuid

    ev = load_table(spark, sf_dir, "events")
    root = fresh_scratch(sf_dir, "dedup_stream")
    # Two identical writes -> every event_id present twice on disk.
    # One file per copy and explicit mtimes pin batch 1 = copy 1,
    # batch 2 = copy 2: the duplicate of every surviving row arrives in
    # a LATER micro-batch, so the run always exercises CROSS-BATCH
    # state dedup (the old 4-file/4-batch replay exercised the same
    # thing at twice the per-batch fixed cost — guide §2/§5 "fewer,
    # fatter micro-batches"; dedup output is batching-invariant, so
    # the result is unchanged).
    _pin_batches(_append_file(ev, root), _append_file(ev, root))
    sink = f"dedup_wm_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(root, "_ckpt")
    stream = _replay(spark, ev.schema, root)
    # Watermarks require an instant (TIMESTAMP), not wall-clock NTZ;
    # the cast only feeds watermark bookkeeping — the aggregate below
    # never reads ts, so session-timezone choice cannot leak into values.
    deduped = (
        stream.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
        .withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    with _scoped_shuffle_partitions(spark, _replay_width(root)):
        _drain_to_memory(deduped, sink, "append", ckpt)
    return (
        spark.table(sink)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "stream_ewma_tws",
    _EWMA_ORACLE,
    sequential=True,
)
def stream_ewma_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ``transformWithStateInPandas`` execution, oracle-checked:
    the per-key EWMA stateful processor (`streaming/stateful.py
    running_ewma_tws` — named ValueState on the RocksDB store, protobuf
    state-server RPC) runs over a genuine two-micro-batch readStream.
    The corpus is split at the median event timestamp into two
    time-CONTIGUOUS halves (a map-only threshold filter — the oracle's
    closed-form recursion is split-point-agnostic, it only needs batch
    2's rows to be later in (ts, event_id) order than batch 1's for
    every key). The file source triggers oldest-modification-first, so
    batch order is pinned by stamping each half's files with explicit
    `os.utime` values — content-deterministic under any scheduler load
    (r8 verdict #3; the old `sleep(1.1)` mtime race flaked at 299/300
    under a saturated box). The second batch must RE-READ batch 1's
    state — the actual cross-batch state contract, not a single-batch
    simulation. Update-mode emissions land in a memory sink; the final
    row per key (max n_events — n strictly increases) must equal the
    closed-form batch recursion the oracle states. Complements
    `stream_running_ewma` (same math via the batch twin): this one
    exercises the stateful runtime itself.

    100 TB posture: state per key is two scalars hash-partitioned
    across RocksDB stores (off-heap, incremental checkpoints); the
    per-batch sort is within-key within-batch only."""
    import os
    import uuid

    from pyspark.sql import Window

    from hudi_utility_spark.session import ensure_pyshim_on_session
    from hudi_utility_spark.streaming.stateful import running_ewma_tws

    # The TWS state-server Python worker needs google.protobuf; when the
    # caller built its own SparkSession before importing us, retrofit the
    # shim via sc.environment (r9 driver crash, verified fix).
    ensure_pyshim_on_session(spark)

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    root = fresh_scratch(sf_dir, "ewma_tws")
    # time-contiguous split at the median ts — map-only, no global window
    thr = ev.agg(
        F.expr("percentile_approx(ts, 0.5)").alias("thr")
    ).collect()[0]["thr"]
    # explicit mtimes pin trigger order (oldest-first) under any load
    _pin_batches(
        _append_file(ev.filter(F.col("ts") <= F.lit(thr)), root),
        _append_file(ev.filter(F.col("ts") > F.lit(thr)), root),
    )

    sink = f"ewma_tws_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(root, "_ckpt")
    with _rocksdb_state(spark):
        stream = _replay(spark, ev.schema, root)
        _drain_to_memory(running_ewma_tws(stream, alpha=0.3), sink, "update", ckpt)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        spark.table(sink)
        .withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select("user_id", F.round("ewma", 4).alias("ewma"), "n_events")
    )


@query(
    "stream_interval_join_outer",
    """
    SELECT c.user_id AS user_id,
           c.event_id AS lead_id,
           p.event_id AS follow_id,
           CASE WHEN p.event_id IS NOT NULL
                THEN epoch_us(p.ts) - epoch_us(c.ts) END AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    sequential=True,
)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase ABANDONMENT readout: the left-outer interval join
    — clicks with no purchase inside the gap survive with NULL follow
    columns (the rows a remarketing pipeline actually wants). Batch
    twin of the streaming outer join, whose real append-mode run
    (watermarks both sides, NULL rows emitted when the watermark passes
    lead+gap, state evicted) is exercised in
    tests/test_streaming_joins.py."""
    from hudi_utility_spark.streaming.joins import followed_within

    ev = load_table(spark, sf_dir, "events")
    return followed_within(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        gap_seconds=1800,
        how="left_outer",
    )


@query(
    "stream_session_tws",
    """
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS gap_break
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessioned AS (
        SELECT user_id, ts, SUM(gap_break) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        FROM marked
    )
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts)) AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessioned GROUP BY user_id, seq
    """,
    sequential=True,
)
def stream_session_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL event-time-timer sessionizer (`streaming/stateful.py
    sessionize_tws` — `transformWithStateInPandas`, timeMode=eventTime,
    RocksDB ValueState + one armed timer per key): the events table
    replays as micro-batch 1, then a far-future sentinel batch advances
    the watermark past every open session's horizon so
    `handleExpiredTimer` — not a poison-pill event — closes the idle
    sessions. Trigger order is pinned with explicit `os.utime` (the
    content-deterministic replay contract from `stream_ewma_tws`).
    Emitted sessions must equal the batch gap-split closed form the
    oracle states; the sentinel user is excluded from the result.

    100 TB posture: state per key is 3 longs + 1 timer; one key
    shuffle; watermark horizon bounds state lifetime exactly."""
    import os
    import uuid

    from hudi_utility_spark.session import ensure_pyshim_on_session
    from hudi_utility_spark.streaming.stateful import sessionize_tws

    # Retrofit the protobuf shim onto a foreign session (see
    # stream_ewma_tws) before the state-server worker launches.
    ensure_pyshim_on_session(spark)

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp_ltz").alias("ts")
    )
    root = fresh_scratch(sf_dir, "sess_tws")
    first_files = _append_file(ev, root)
    sentinel_uid = 10**9
    far = ev.agg(F.max("ts")).collect()[0][0]
    import datetime as _dt

    sentinel = spark.createDataFrame(
        [(sentinel_uid, far + _dt.timedelta(days=30))], ev.schema
    )
    _pin_batches(first_files, _append_file(sentinel, root))

    sink = f"sess_tws_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(root, "_ckpt")
    with _rocksdb_state(spark):
        stream = _replay(spark, ev.schema, root).withWatermark(
            "ts", "0 seconds"
        )
        _drain_to_memory(sessionize_tws(stream, gap_seconds=1800), sink, "append", ckpt)
    return spark.table(sink).filter(F.col("user_id") != sentinel_uid).select(
        "user_id", "session_start_us", "session_end_us", "n_events"
    )


@query(
    "stream_upsert_ingest",
    """
    WITH unioned AS (
      SELECT event_id, ts, user_id, event_type, value FROM events
      UNION ALL
      SELECT event_id,
             ts + INTERVAL 1 HOUR AS ts,
             user_id, event_type,
             value + 500 AS value
      FROM events WHERE event_id % 11 = 0
    ), """ + EVENTS_RESOLVED + """
    SELECT event_id, user_id, event_type,
           ROUND(value, 2) AS value,
           epoch_us(ts) AS ts_us
    FROM resolved WHERE rn = 1
    """,
    sequential=True,
)
def stream_upsert_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DELTASTREAMER pattern — continuous ingest upserting into a
    keyed table — as a REAL streaming run: a file-source readStream
    delivers the base corpus and an update slice (later precombine,
    value shifted) through `streaming/ingest.py stream_upsert`, whose
    foreachBatch sink precombine-dedupes each micro-batch and upserts
    it into a COW KeyedTable (reference behavior: the Hudi streamer's
    upsert write op, `pyspark_script.py:360-370`). The final table
    read must equal the closed-form latest-by-key resolution the
    oracle states — and it must equal it REGARDLESS of how the files
    were batched, because precombine resolution is replay- and
    order-insensitive for this update set (the update rows strictly
    dominate on ts): exactly the idempotence a checkpoint-recovering
    100 TB ingest needs.

    100 TB posture: each micro-batch shuffles once on the record key;
    the upsert rewrites only partitions the batch touches (dynamic
    partition overwrite); checkpointed offsets make redelivery a no-op
    rewrite rather than a duplicate row."""
    import os

    from hudi_utility_spark.streaming.ingest import stream_upsert
    from hudi_utility_spark.table import TableType

    root = fresh_scratch(sf_dir, "stream_upsert")
    src = os.path.join(root, "src")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    first_files = _append_file(ev, src)
    updates = (
        ev.filter(F.col("event_id") % 11 == 0)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
        .withColumn("value", F.col("value") + 500)
    )
    _pin_batches(first_files, _append_file(updates, src))

    table = events_table(os.path.join(root, "table"), TableType.COPY_ON_WRITE)
    stream = _replay(spark, ev.schema, src)
    q = stream_upsert(
        spark, stream, table, checkpoint_dir=os.path.join(root, "_ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return table.read(spark).select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 2).alias("value"),
        us("ts").alias("ts_us"),
    )

@query(
    "stream_late_data_drop",
    """
    WITH b AS (
      SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx FROM events
    ),
    arrived AS (
      SELECT ts, event_type, value FROM events
      UNION ALL
      -- replays of the corpus' final 20 minutes arrive two batches
      -- late but their windows are inside the 30-min watermark horizon
      -- -> ACCEPTED (double-counted)
      SELECT e.ts, e.event_type, e.value FROM events e, b
      WHERE epoch_us(e.ts) > b.mx - 1200000000
      -- replays of the corpus' earliest hour also arrive two batches
      -- late, but their windows closed long ago -> DROPPED: no branch
    )
    SELECT (epoch_us(ts) // 300000000) * 300000000 AS window_start_us,
           event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 2) AS total_value
    FROM arrived GROUP BY 1, 2
    """,
    sequential=True,
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics under the value-hash gate — the
    one streaming behavior the suite had only asserted in unit tests.
    A 30-minute-watermarked 5-min tumbling aggregate replays four
    pinned micro-batches: (1) the first half of the corpus, (2) the
    second half, (3) two LATE replay slices — the corpus' earliest
    hour (windows closed far beyond the horizon → must be DROPPED) and
    its final 20 minutes (windows still inside the horizon → must be
    ACCEPTED and double-counted) — and (4) a far-future sentinel that
    advances the watermark past every real window so APPEND mode
    flushes them. The oracle states the same accept/drop outcome in
    closed form.

    The batch layout encodes Spark's DUAL-watermark contract,
    established by direct experiment on this build: the late-event
    FILTER uses the watermark computed two batches back (one batch
    behind the eviction watermark), so a late row must arrive ≥2
    batches after the max-establishing batch to be droppable — hence
    the replays ride batch 3, not batch 2. Both replay slices sit
    >9 days from every watermark boundary at sf0.01, so the result has
    no <=/< boundary sensitivity, and each (window, type) group is
    emitted exactly once (accepted-replay windows stay live until the
    sentinel flush; first-half windows are fully fed before their
    eviction).

    100 TB posture: the watermark horizon × key cardinality is what
    bounds streaming state; this pins the exact drop boundary that
    arithmetic relies on."""
    import os

    from hudi_utility_spark.streaming.windows import tumbling_counts

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    mm = ev.agg(
        F.min(us("ts")).alias("mn"), F.max(us("ts")).alias("mx")
    ).collect()[0]
    thr_us = mm.mn + (mm.mx - mm.mn) // 2
    root = fresh_scratch(sf_dir, "late_drop")

    f1 = _append_file(ev.filter(us("ts") <= F.lit(thr_us)), root)
    f2 = _append_file(ev.filter(us("ts") > F.lit(thr_us)), root)
    late = ev.filter(us("ts") < F.lit(mm.mn + 3_600_000_000)).unionByName(
        ev.filter(us("ts") > F.lit(mm.mx - 1_200_000_000))
    )
    f3 = _append_file(late, root)
    import datetime as _dt

    f4 = _append_file(
        spark.createDataFrame(
            [(_dt.datetime(2200, 1, 1), "__sentinel__", 0.0)], ev.schema
        ),
        root,
    )
    _pin_batches(f1, f2, f3, f4)

    stream = _replay(spark, ev.schema, root)
    # capture finalized (append-mode) windows per committed micro-batch
    # via foreachBatch — synchronous with the commit, keyed by batch id
    # so checkpoint replay overwrites instead of duplicating; the memory
    # sink's table view can race the read under a loaded session (the
    # src_synth_stream r5/r6/r9 flake class).
    acc: dict[int, list] = {}

    def capture(bdf, bid: int) -> None:
        rows = bdf.select(
            "window_start_us", "event_type", "cnt", "total_value"
        ).collect()
        if rows:
            acc[int(bid)] = [tuple(r) for r in rows]

    with _scoped_shuffle_partitions(spark, _replay_width(root)):
        q = (
            tumbling_counts(stream, width="5 minutes", watermark="30 minutes")
            .writeStream.foreachBatch(capture)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(root, "_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    flushed = [row for bid in sorted(acc) for row in acc[bid]]
    return spark.createDataFrame(
        flushed,
        "window_start_us bigint, event_type string, cnt bigint, "
        "total_value double",
    ).filter(F.col("event_type") != "__sentinel__").select(
        "window_start_us", "event_type", "cnt", "total_value"
    )


@query(
    "stream_true_interval_join",
    _INTERVAL_JOIN_ORACLE,
    sequential=True,
)
def stream_true_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming execution of the stream-stream interval join —
    not the batch twin (`stream_interval_join`): the events corpus
    replays through `readStream` in multiple real micro-batches, both
    sides carry a 2-hour watermark, and the append-mode inner join
    emits click→purchase pairs as state matches across batches. An
    inner interval join's RESULT is batching-invariant PROVIDED inputs
    arrive in (coarse) event-time order — a watermarked join drops
    inputs older than the current watermark, so the replay is made
    deterministic the same way a replayed Kafka topic is: the corpus
    is written as TIME-SLICED files (split at the median ts) with
    staggered mtimes, so maxFilesPerTrigger=1 delivers micro-batches in
    ascending event time and no qualifying input can arrive beneath
    the watermark. State holds unmatched rows until the watermark
    proves no match can still arrive, so every qualifying pair emits
    exactly once — which is what lets a real streaming run sit under
    the batch oracle's value hash (the outer flavor is pinned in
    tests/test_streaming_joins.py). Results are captured per committed
    micro-batch via foreachBatch (synchronous with the commit — no
    memory-sink table race), keyed by batch id so a checkpoint replay
    overwrites rather than duplicates.

    100 TB posture: join state is bounded by watermark delay x key
    cardinality on BOTH sides (the two-sided time bound is what makes
    the state finite); at cluster scale the same plan shards by key.
    The per-batch capture here collects the JOIN OUTPUT (the query's
    own result set, driver-bound by contract), not the inputs."""
    import os

    from hudi_utility_spark.streaming.joins import followed_within

    ev = load_table(spark, sf_dir, "events")
    root = fresh_scratch(sf_dir, "true_ivj")
    # linear time slices from min/max (one cheap agg): the slices only
    # need to be event-time ORDERED, not equal-count, so an exact
    # quantile pass would be wasted work. TWO slices, not four: the
    # cross-batch join contract (state from batch 1 matched against
    # batch 2 arrivals, watermark never overtaking a qualifying input)
    # is fully exercised by one boundary, and every extra micro-batch
    # pays a full fixed cost of planning + WAL + 4 state-store
    # opens+commits per partition (guide §2/§5 "fewer, fatter
    # micro-batches"; an ordered-arrival inner interval join is
    # batching-invariant, so the result is unchanged).
    mm = ev.agg(
        F.min(us("ts")).alias("mn"), F.max(us("ts")).alias("mx")
    ).collect()[0]
    thr = mm.mn + (mm.mx - mm.mn) // 2

    t_us = us("ts")
    _pin_batches(
        _append_file(ev.filter(t_us <= F.lit(thr)), root),
        _append_file(ev.filter(t_us > F.lit(thr)), root),
    )

    stream = _replay(spark, ev.schema, root)
    out = followed_within(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
        gap_seconds=1800,
        watermark="2 hours",
    )
    acc: dict[int, list] = {}

    def capture(bdf, bid: int) -> None:
        rows = bdf.select(
            "user_id", "lead_id", "follow_id", "gap_us"
        ).collect()
        if rows:
            acc[int(bid)] = [tuple(r) for r in rows]

    with _scoped_shuffle_partitions(spark, _replay_width(root)):
        q = (
            out.writeStream.foreachBatch(capture)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(root, "_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    pairs = [row for bid in sorted(acc) for row in acc[bid]]
    return spark.createDataFrame(
        pairs, "user_id bigint, lead_id bigint, follow_id bigint, gap_us bigint"
    )
