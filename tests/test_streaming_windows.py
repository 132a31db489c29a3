"""Structured Streaming parity: the streaming builders must produce the
same results as their batch twins when driven over the same parquet
(micro-batch replay through a memory sink)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hudi_utility_spark.streaming.windows import (
    dedup_within_watermark,
    run_stream_to_memory,
    session_windows_stream,
    tumbling_counts,
)
from hudi_utility_spark.tables import load_table


@pytest.fixture(scope="module")
def events_path(spark, sf_dir, tmp_path_factory):
    """events re-encoded with µs timestamps (readStream cannot apply the
    ns→µs conversion load_table does for the raw file)."""
    out = str(tmp_path_factory.mktemp("stream_src") / "events")
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(out)
    return out


def test_tumbling_stream_matches_batch(spark, events_path):
    batch_df = spark.read.parquet(events_path)
    expected = sorted(
        map(tuple, tumbling_counts(batch_df).collect()),
    )
    got_df = run_stream_to_memory(
        spark,
        batch_df.schema,
        events_path,
        lambda s: tumbling_counts(s, watermark="1 hour"),
        "t_tumbling",
        output_mode="complete",
    )
    got = sorted(map(tuple, got_df.collect()))
    assert got == expected


def test_session_window_stream_runs(spark, events_path):
    batch_df = spark.read.parquet(events_path)
    got = run_stream_to_memory(
        spark,
        batch_df.schema,
        events_path,
        lambda s: session_windows_stream(s, gap="30 minutes", watermark="2 hours"),
        "t_sessions",
        output_mode="complete",
    )
    rows = got.collect()
    assert rows
    # sessions are per-user, start <= end, positive event counts
    assert all(r.session_start_us <= r.session_end_us and r.n_events > 0 for r in rows)


def test_dedup_within_watermark_stream(spark, events_path, tmp_path):
    # duplicate every event, stream through dropDuplicatesWithinWatermark
    src = str(tmp_path / "dup_events")
    base = spark.read.parquet(events_path)
    base.union(base).write.mode("overwrite").parquet(src)
    dup_df = spark.read.parquet(src)
    got = run_stream_to_memory(
        spark,
        dup_df.schema,
        src,
        lambda s: dedup_within_watermark(s, keys=["event_id"], watermark="1 hour"),
        "t_dedup",
        output_mode="append",
    )
    assert got.count() == base.count()
    assert got.select("event_id").distinct().count() == base.count()


def test_trending_topk_stream_matches_batch(spark, events_path):
    from hudi_utility_spark.streaming.windows import (
        rank_trending,
        trending_topk,
        windowed_key_counts,
    )

    batch_df = spark.read.parquet(events_path)
    expected = sorted(map(tuple, trending_topk(batch_df, k=3).collect()))
    # streaming half: incremental windowed counts through a memory sink,
    # ranking applied on the sink output (the foreachBatch position)
    counts = run_stream_to_memory(
        spark,
        batch_df.schema,
        events_path,
        lambda s: windowed_key_counts(s, watermark="1 hour"),
        "t_trend_counts",
        output_mode="complete",
    )
    got = sorted(map(tuple, rank_trending(counts, k=3).collect()))
    assert got == expected
    # every window contributes at most 3 rows with ranks 1..n
    per_win = {}
    for r in rank_trending(counts, k=3).collect():
        per_win.setdefault(r.window_start_us, []).append(r.rnk)
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 3
               for v in per_win.values())


def test_scoped_shuffle_partitions_restores_on_error(spark):
    """The bounded-replay partition knob must restore the session conf
    even when the streaming run raises (a leaked 8-partition conf would
    silently shrink every later query's shuffles)."""
    from hudi_utility_spark.queries.streaming import (
        _scoped_shuffle_partitions,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError, match="boom"):
        with _scoped_shuffle_partitions(spark, 8):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_scoped_shuffle_partitions_serializes_concurrent_scopes(spark):
    """The conf is session-global, so overlapping scopes from two
    threads must serialize: a second scope may not open (and may not
    observe the first scope's lowered value as its restore target)
    until the first closes. Without the lock, thread B would capture
    ``8`` as its "old" value and restore THAT, permanently shrinking
    the session's shuffles."""
    import threading as _t

    from hudi_utility_spark.queries.streaming import (
        _scoped_shuffle_partitions,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    inside = _t.Event()
    release = _t.Event()
    observed: list[str] = []

    def hold():
        with _scoped_shuffle_partitions(spark, 8):
            inside.set()
            release.wait(timeout=30)

    def contend():
        inside.wait(timeout=30)
        with _scoped_shuffle_partitions(spark, 4):
            # by the time THIS scope opens, the first must have closed
            # and restored — so our restore target is the session
            # default, never the other scope's 8
            observed.append(spark.conf.get("spark.sql.shuffle.partitions"))
        observed.append(spark.conf.get("spark.sql.shuffle.partitions"))

    t1, t2 = _t.Thread(target=hold), _t.Thread(target=contend)
    t1.start()
    t2.start()
    inside.wait(timeout=30)
    # let the contender reach the lock, then release the holder
    release.set()
    t1.join(timeout=60)
    t2.join(timeout=60)
    assert observed == ["4", before]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

