"""The driver-visible streaming entries (streaming/bounded.py) must be
real streams: correctness is covered by the oracle-parity gate (they
are registry entries), so what's pinned here is the STREAMING-ness —
each drained run executed more than one micro-batch, i.e. windowed /
dedup / applyInPandasWithState state genuinely crossed batch
boundaries instead of degenerating into a single batch job."""

from __future__ import annotations

import pytest

from minispark_spark.streaming import bounded


@pytest.mark.parametrize(
    "fn, entry",
    [
        (bounded.stream_hourly_event_stats, "stream_hourly_event_stats"),
        (bounded.stream_sliding_user_activity, "stream_sliding_user_activity"),
        (bounded.stream_dedup_events, "stream_dedup_events"),
        (bounded.stream_user_running_totals, "stream_user_running_totals"),
        (bounded.stream_interval_join, "stream_interval_join"),
        (bounded.stream_session_window, "stream_session_window"),
    ],
)
def test_bounded_streams_cross_micro_batches(spark, sf_dir, fn, entry):
    fn(spark, sf_dir).collect()
    assert bounded.LAST_NUM_BATCHES[entry] >= bounded._N_SOURCE_FILES


def test_stream_cdc_upsert_crosses_micro_batches(spark, sf_dir):
    """stream_cdc_upsert records its batch count only on a cache-miss
    rebuild (the upsert table is mtime-stamped per sf_dir) — remove the
    stamp to force a real streaming run and pin >=4 micro-batches."""
    import os

    from minispark_spark.sources.sidecache import side_dir

    stamp = side_dir("/tmp/minispark_streamcdc", sf_dir, "table") + ".stamp"
    if os.path.exists(stamp):
        os.remove(stamp)
    bounded.stream_cdc_upsert(spark, sf_dir).collect()
    assert bounded.LAST_NUM_BATCHES["stream_cdc_upsert"] >= bounded._N_SOURCE_FILES


def test_dedup_stream_removed_injected_duplicates(spark, sf_dir):
    """The dup-injected source has ~10% extra rows; the drained dedup
    output must be back to exactly one row per event_id."""
    out = bounded.stream_dedup_events(spark, sf_dir)
    src = spark.read.parquet(
        bounded._events_stream_src(spark, sf_dir, "events_dup4", dup=True)
    )
    n_out = out.count()
    assert src.count() > n_out  # duplicates were really present
    assert out.select("event_id").distinct().count() == n_out


def test_stream_arrow_sink_crosses_micro_batches(spark, sf_dir):
    """stream_arrow_sink records its batch count only on a cache-miss
    rebuild (mtime-stamped sink) — remove the stamp to force a real
    streaming run and pin >=4 micro-batches through the arrowipc sink."""
    import os

    from minispark_spark.sources.sidecache import side_dir

    stamp = side_dir("/tmp/minispark_streamarrow", sf_dir, "events.arrow") + ".stamp"
    if os.path.exists(stamp):
        os.remove(stamp)
    bounded.stream_arrow_sink(spark, sf_dir).collect()
    assert bounded.LAST_NUM_BATCHES["stream_arrow_sink"] >= bounded._N_SOURCE_FILES


def test_stream_late_data_discard_drops_and_crosses_batches(spark, sf_dir):
    """The late entry must really stream 4 micro-batches (3 data files
    + empty heartbeat) AND really discard: the drained append output
    must contain NO window from the late middle third of the span, and
    fewer total rows than the same aggregation over the full table."""
    from pyspark.sql import functions as F

    from minispark_spark.sources.tables import load_table

    out = bounded.stream_late_data_discard(spark, sf_dir)
    assert bounded.LAST_NUM_BATCHES["stream_late_data_discard"] >= 4
    ev = load_table(spark, sf_dir, "events")
    h = F.expr(f"unix_micros(ts) div {bounded._HOUR_US}")
    b = ev.agg(F.min(h).alias("hmin"), F.max(h).alias("hmax")).collect()[0]
    third = (b["hmax"] - b["hmin"] + 1) // 3
    b1, b2 = b["hmin"] + third, b["hmin"] + 2 * third
    wh = F.expr(f"unix_micros(window_start) div {bounded._HOUR_US}")
    n_late = out.filter((wh >= b1) & (wh < b2)).count()
    assert n_late == 0  # every late-chunk window was discarded
    n_full = ev.groupBy(F.window("ts", "1 hour")).count().count()
    assert 0 < out.count() < n_full


def test_stream_left_outer_join_nulls_and_discard(spark, sf_dir):
    """The outer-join entry must cross >= 4 micro-batches, emit real
    NULL rows (watermark-closed unmatched clicks), and emit NO row —
    matched or null — for any late middle-third click."""
    from pyspark.sql import functions as F

    from minispark_spark.sources.tables import load_table

    out = bounded.stream_left_outer_join(spark, sf_dir).cache()
    assert bounded.LAST_NUM_BATCHES["stream_left_outer_join"] >= 4
    assert out.filter(F.col("purchase_id").isNull()).count() > 0
    ev = load_table(spark, sf_dir, "events")
    h = F.expr(f"unix_micros(ts) div {bounded._HOUR_US}")
    b = ev.agg(F.min(h).alias("hmin"), F.max(h).alias("hmax")).collect()[0]
    third = (b["hmax"] - b["hmin"] + 1) // 3
    b1, b2 = b["hmin"] + third, b["hmin"] + 2 * third
    late_clicks = ev.filter(
        (F.col("event_type") == "click") & (h >= b1) & (h < b2)
    ).select(F.col("event_id").alias("click_id"))
    assert late_clicks.count() > 0  # the late chunk really has clicks
    assert out.join(late_clicks, "click_id", "inner").count() == 0
    out.unpersist()


def test_stream_state_timeout_sessions_expires_and_holds(spark, sf_dir):
    """The timeout entry must cross >= 4 micro-batches, emit ONLY
    watermark-closed users (open-tail users held in state, absent),
    and count no late middle-third rows."""
    from pyspark.sql import functions as F

    from minispark_spark.sources.tables import load_table

    out = bounded.stream_state_timeout_sessions(spark, sf_dir).cache()
    assert bounded.LAST_NUM_BATCHES["stream_state_timeout_sessions"] >= 4
    ev = load_table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    n_emitted = out.count()
    assert 0 < n_emitted < n_users  # someone expired AND someone held
    # the user owning the global max event time can never have expired
    last_user = ev.orderBy(F.col("ts").desc()).select("user_id").first()["user_id"]
    assert out.filter(F.col("user_id") == last_user).count() == 0
    out.unpersist()


def test_stream_source_empty_directory_fails_loud(spark, tmp_path):
    """An empty stream source names its directory in a ValueError
    instead of surfacing an opaque ``max()`` error."""
    import re

    src = tmp_path / "empty_src"
    src.mkdir()
    with pytest.raises(ValueError, match="empty: " + re.escape(str(src))):
        bounded._read_stream(spark, str(src))


def test_stream_schema_memo_sees_file_with_older_mtime(spark, tmp_path):
    """The memoized source schema must follow the directory's contents,
    not its newest mtime: adding a file OLDER than the newest one still
    invalidates it. Spark infers a parquet directory's schema from the
    first file by path, so the added ``a.parquet`` decides it."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    newest = src / "b.parquet"
    pq.write_table(pa.table({"x": [1, 2]}), newest)
    t = os.stat(newest).st_mtime_ns
    assert bounded._read_stream(spark, str(src)).schema.fieldNames() == ["x"]

    older = src / "a.parquet"
    pq.write_table(pa.table({"x": [3], "y": ["z"]}), older)
    os.utime(older, ns=(t - 10**11, t - 10**11))
    assert bounded._read_stream(spark, str(src)).schema.fieldNames() == ["x", "y"]
