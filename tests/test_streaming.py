"""Streaming layer tests (SURVEY §2.8, §5 batch-replay equivalence).

The strongest available oracle for streaming semantics: run the real
Structured Streaming job over micro-batch drops, then assert the result
equals (a) the batch DataFrame form and (b) the DuckDB SQL oracle.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datapipe_spark.operators import journal
from datapipe_spark.plans import events_queries as ev
from datapipe_spark.streaming import jobs
from datapipe_spark.streaming import source as src
from tests.oracle import compare_to_oracle


def _rows(df):
    return sorted(map(repr, df.collect()))


def test_stateful_queries_run_on_rocksdb_state_store(spark, sf_dir):
    """r12 verdict ask #1 — every stateful query must run on the
    bundled RocksDB state store provider (the only provider whose
    state is bounded by executor disk, not heap, at 100 TB-scale
    state). Attest it ENGAGED, not just configured: Spark pins the
    provider class into the checkpoint's offset-log conf at the
    query's first start, and the RocksDB provider materializes .zip
    snapshot archives in the state dir where the HDFS provider writes
    .delta files."""
    import glob
    import json

    from datapipe_spark.util import scratch_root

    assert jobs.ROCKSDB_PROVIDER.endswith(".RocksDBStateStoreProvider")
    jobs.streaming_dedup_events(spark, sf_dir)  # dropDuplicates state
    ckpt = os.path.join(scratch_root(), "dedup", "cp")
    offsets = sorted(glob.glob(os.path.join(ckpt, "offsets", "*")))
    assert offsets, "no offset log written"
    with open(offsets[0]) as f:
        lines = f.read().splitlines()
    meta = next(json.loads(ln) for ln in lines if '"conf"' in ln)
    assert (
        meta["conf"]["spark.sql.streaming.stateStore.providerClass"]
        == jobs.ROCKSDB_PROVIDER
    )
    state_files = glob.glob(
        os.path.join(ckpt, "state", "**", "*"), recursive=True
    )
    # RocksDB evidence in the state dir: with changelog checkpointing
    # (the r13 default — commit uploads O(delta) .changelog files and
    # full .zip snapshots move to background maintenance) the commit
    # artifact is .changelog; without it, .zip snapshots land at
    # commit. The HDFS provider writes neither (.delta files).
    assert any(
        f.endswith(".zip") or f.endswith(".changelog") for f in state_files
    )
    assert not any(f.endswith(".delta") for f in state_files)


def test_stream_width_follows_session_cores(spark, sf_dir):
    """The stateful shuffle width is the session's core count, capped at
    8: it is set while the query runs (one state store per partition in
    the checkpoint) and the session's own width comes back after, as
    do its unset state store provider and changelog confs."""
    from types import SimpleNamespace

    from datapipe_spark.util import scratch_root

    on_32 = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=32))
    assert jobs._stream_width(on_32) == 8
    width = min(spark.sparkContext.defaultParallelism, 8)
    assert jobs._stream_width(spark) == width

    def state_confs():
        return [
            spark.conf.get(c, None)
            for c in (jobs._PROVIDER_CONF, jobs._CHANGELOG_CONF)
        ]

    assert state_confs() == [None, None]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "13")  # no width is 13
    try:
        with jobs._stream_shuffle(spark):
            assert spark.conf.get("spark.sql.shuffle.partitions") == str(width)
            assert state_confs() == [jobs.ROCKSDB_PROVIDER, "true"]
        assert spark.conf.get("spark.sql.shuffle.partitions") == "13"
        jobs.streaming_dedup_events(spark, sf_dir)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "13"
        assert state_confs() == [None, None]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    state = os.path.join(scratch_root(), "dedup", "cp", "state", "0")
    parts = {int(d) for d in os.listdir(state) if d.isdigit()}
    assert parts == set(range(width))


@pytest.mark.parametrize("width", [1, 8])
@pytest.mark.parametrize(
    "query_fn, sql",
    [
        (jobs.streaming_dedup_events, jobs.STREAMING_DEDUP_SQL),
        (jobs.streaming_sessionize_stateful, ev.SESSIONIZE_SQL),
    ],
    ids=["dedup", "sessionize_stateful"],
)
def test_stateful_results_are_width_invariant(spark, sf_dir, monkeypatch, query_fn, sql, width):
    """State partitioning must not change results: the stateful heads
    equal their DuckDB oracles at any shuffle width."""
    monkeypatch.setattr(jobs, "_stream_width", lambda _spark: width)
    compare_to_oracle(spark, query_fn, sql, sf_dir)


def test_streaming_snapshot_ingest_exactly_once_acid_appends(spark, sf_dir):
    """Kafka→Iceberg parity (T10 on an ACID table): the stream lands
    in the snapshot table with exactly-once content, `.history`
    carries one batch-id-stamped append per micro-batch, and a
    REPLAYED micro-batch (the sink-committed/checkpoint-lost crash
    window) is skipped — no new version, no duplicate rows."""
    from datapipe_spark.operators import snapshots as snap
    from datapipe_spark.sources.tables import load_table
    from datapipe_spark.util import scratch_root

    out = jobs.streaming_snapshot_ingest(spark, sf_dir)
    n_events = load_table(spark, sf_dir, "events").count()
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events

    table = os.path.join(scratch_root(), "snap_ingest", "table")
    hist = snap.history(table)
    assert len(hist) >= 2  # files_per_trigger=3 over 4+flush drops
    assert [h["batch_id"] for h in hist] == list(range(len(hist)))
    assert all(h["mode"] == "append" for h in hist[1:])
    assert hist[-1]["row_count"] == n_events

    # replay of an already-committed batch id: skipped entirely
    cur = snap.current_version(table)
    replay = load_table(spark, sf_dir, "events").limit(5).selectExpr(
        "event_id", "user_id", "event_type",
        "CAST(value AS DOUBLE) AS value",
    )
    assert snap.commit_snapshot_batch(replay, table, batch_id=0) is None
    assert snap.current_version(table) == cur
    assert snap.read_snapshot(spark, table).count() == n_events


def test_snapshot_change_feed_stream_source(spark, sf_dir):
    """The custom Python DataSource streaming the snapshot table:
    initial load + append increments arrive exactly once across
    restarts, schema evolution reads back NULL for pre-evolution
    files with partition columns reconstructed at their pinned types,
    and a non-append commit mid-chain fails the stream instead of
    silently re-emitting rewritten rows."""
    from datapipe_spark.operators import snapshots as snap
    from datapipe_spark.sources.snapshot_stream import read_snapshot_stream
    from datapipe_spark.util import fresh_dir

    root = fresh_dir("snap_feed_unit")
    tbl = os.path.join(root, "tbl")
    sink, cp = os.path.join(root, "sink"), os.path.join(root, "cp")
    snap.commit_snapshot(
        spark.createDataFrame(
            [(i, f"2024-01-0{1 + i % 2}") for i in range(6)],
            "id long, d string",
        ).repartition("d"),
        tbl, partition_by=("d",),
    )
    snap.commit_snapshot(
        spark.createDataFrame(
            [(100, "2024-01-03", "x")], "id long, d string, extra string"
        ),
        tbl, mode="append", partition_by=("d",),
    )

    def run():
        q = (
            read_snapshot_stream(spark, tbl)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    got = spark.read.parquet(sink)
    assert got.count() == 7
    assert dict(got.dtypes)["d"] == "string"  # pinned partition type
    rows = {r["id"]: r["extra"] for r in got.collect()}
    assert rows[100] == "x" and rows[0] is None  # evolution NULLs

    # restart consumes ONLY the new append (offsets in checkpoint)
    snap.commit_snapshot(
        spark.createDataFrame(
            [(200, "2024-01-04", "y")], "id long, d string, extra string"
        ),
        tbl, mode="append", partition_by=("d",),
    )
    run()
    assert spark.read.parquet(sink).count() == 8

    # replaced history is not streamable: DELETE then restart fails
    snap.delete_rows(spark, tbl, "id = 0")
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="non-append version"):
        run()

    # ...but a FRESH consumer (genesis offset) on the DML-touched
    # table must work: the initial load is the current snapshot,
    # whatever the commit-mode history (a compacted table must stay
    # streamable for new consumers)
    fresh_sink = os.path.join(root, "sink2")
    fresh_cp = os.path.join(root, "cp2")
    q = (
        read_snapshot_stream(spark, tbl)
        .writeStream.format("parquet")
        .option("path", fresh_sink)
        .option("checkpointLocation", fresh_cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.read.parquet(fresh_sink).count() == 7  # post-delete

    # retention-cliff guard: append more, then expire the consumer's
    # committed offset version — the stream must fail loudly instead
    # of silently re-emitting the whole table as "new"
    snap.commit_snapshot(
        spark.createDataFrame(
            [(300, "2024-01-05", "z")], "id long, d string, extra string"
        ),
        tbl, mode="append", partition_by=("d",),
    )
    snap.expire_snapshots(tbl, keep=1)
    with pytest.raises(StreamingQueryException, match="expired"):
        run()


def test_change_feed_decodes_escaped_and_null_partitions(spark):
    """Hive dir names percent-encode special characters and spell
    NULL as __HIVE_DEFAULT_PARTITION__; the feed must emit the
    DECODED values (what read_snapshot returns), not the path
    spelling."""
    from datapipe_spark.operators import snapshots as snap
    from datapipe_spark.sources.snapshot_stream import read_snapshot_stream
    from datapipe_spark.util import fresh_dir

    root = fresh_dir("snap_feed_escape")
    tbl = os.path.join(root, "tbl")
    snap.commit_snapshot(
        spark.createDataFrame(
            [(1, "a:b"), (2, "plain"), (3, None)], "id long, k string"
        ),
        tbl, partition_by=("k",),
    )
    q = (
        read_snapshot_stream(spark, tbl)
        .writeStream.format("parquet")
        .option("path", os.path.join(root, "sink"))
        .option("checkpointLocation", os.path.join(root, "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["id"]: r["k"]
        for r in spark.read.parquet(os.path.join(root, "sink")).collect()
    }
    want = {
        r["id"]: r["k"] for r in snap.read_snapshot(spark, tbl).collect()
    }
    assert got == want == {1: "a:b", 2: "plain", 3: None}


def test_ingest_to_change_feed_end_to_end(spark, sf_dir):
    """The full reference backbone composed: Kafka-stand-in stream →
    exactly-once ACID appends into the snapshot table
    (streaming_snapshot_ingest) → a SECOND streaming consumer tailing
    that same table through the change-feed source. The consumer's
    sink must hold exactly the producer's rows (per-version appends
    arriving exactly once), proving the two halves compose into a
    working pub-sub over the versioned table."""
    from datapipe_spark.operators import snapshots as snap
    from datapipe_spark.sources.snapshot_stream import read_snapshot_stream
    from datapipe_spark.sources.tables import load_table
    from datapipe_spark.util import fresh_dir, scratch_root

    jobs.streaming_snapshot_ingest(spark, sf_dir)  # producer leg
    table = os.path.join(scratch_root(), "snap_ingest", "table")
    assert len(snap.history(table)) >= 2

    out = fresh_dir("e2e_feed")
    sink, cp = os.path.join(out, "sink"), os.path.join(out, "cp")
    q = (
        read_snapshot_stream(spark, table)
        .select("event_id", "user_id", "event_type")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    consumed = spark.read.parquet(sink)
    n_events = load_table(spark, sf_dir, "events").count()
    assert consumed.count() == n_events
    assert consumed.select("event_id").distinct().count() == n_events


def test_streaming_funnel_equals_batch_and_oracle(spark, sf_dir):
    got = jobs.streaming_funnel_daily(spark, sf_dir)
    assert _rows(got) == _rows(ev.funnel_daily(spark, sf_dir))
    compare_to_oracle(spark, jobs.streaming_funnel_daily, ev.FUNNEL_DAILY_SQL, sf_dir)


def test_streaming_session_window_equals_batch(spark, sf_dir):
    got = jobs.streaming_sessionize(spark, sf_dir)
    assert _rows(got) == _rows(ev.sessionize(spark, sf_dir))


def test_streaming_stateful_sessionize_equals_batch(spark, sf_dir):
    got = jobs.streaming_sessionize_stateful(spark, sf_dir)
    assert _rows(got) == _rows(ev.sessionize(spark, sf_dir))


def test_streaming_attribution_equals_batch_and_oracle(spark, sf_dir):
    """The streaming as-of join (stateful last-touch attribution) must
    equal the batch union-window form AND the DuckDB ASOF oracle —
    incl. the timestamp-tie rule across micro-batch replay."""
    got = jobs.streaming_purchase_attribution(spark, sf_dir)
    assert _rows(got) == _rows(ev.purchase_attribution(spark, sf_dir))
    compare_to_oracle(
        spark, jobs.streaming_purchase_attribution, ev.PURCHASE_ATTRIBUTION_SQL, sf_dir
    )


def test_stream_stream_interval_join_equals_batch_and_oracle(spark, sf_dir):
    """The built-in stream-stream interval join (watermarked error and
    purchase streams, engine-evicted state) must emit exactly the
    batch range join's rows and match its DuckDB oracle."""
    got = jobs.streaming_error_purchase_windows(spark, sf_dir)
    assert _rows(got) == _rows(ev.error_purchase_windows(spark, sf_dir))
    compare_to_oracle(
        spark,
        jobs.streaming_error_purchase_windows,
        ev.ERROR_PURCHASE_WINDOWS_SQL,
        sf_dir,
    )


def test_streaming_dedup_restores_exactly_once(spark, sf_dir):
    from datapipe_spark.sources.tables import load_table

    got = jobs.streaming_dedup_events(spark, sf_dir)
    base = load_table(spark, sf_dir, "events")
    assert got.count() == base.count()
    assert got.select(F.countDistinct("event_id")).first()[0] == base.count()


def test_streaming_dlq_split_routes_corrupt_records(spark, sf_dir):
    compare_to_oracle(spark, jobs.streaming_dlq_split, jobs.STREAMING_DLQ_SQL, sf_dir)


def test_validation_split_batch_semantics(spark):
    """S4/T9 unit: malformed JSON and key-less records route to DLQ."""
    raw = spark.createDataFrame(
        [
            ('{"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 7, '
             '"event_type": "view", "value": 1.5, "props": null}',),
            ('{"event_id": 2, "ts": "2024-01-01T00:00:01"',),  # truncated
            ('{"user_id": 9, "event_type": "click"}',),  # no key/ts
            ("not json at all",),
        ],
        "value string",
    )
    valid, invalid = src.split_valid(src.parse_events(raw))
    assert valid.count() == 1
    assert valid.first().event_id == 1
    assert invalid.count() == 3
    assert set(r.error_reason for r in invalid.collect()) == {"parse_or_key_failure"}


def test_checkpoint_recovery_exactly_once(spark, sf_dir):
    """T7/T10: a restart from checkpoint must process only unseen drops
    and the sink must end exactly-once-complete (reference
    requirements: at-least-once archival + idempotent batching,
    data-ingestion design.md:54)."""
    import os
    import shutil

    from datapipe_spark.sources.tables import load_table
    from datapipe_spark.util import fresh_dir, scratch_root

    all_drops = src.prepare_event_drops(spark, sf_dir)
    staged = fresh_dir("recovery_staged")
    out = fresh_dir("recovery_out")
    sink, cp = os.path.join(out, "sink"), os.path.join(out, "cp")
    names = sorted(d for d in os.listdir(all_drops) if d.startswith("drop_"))

    def run():
        q = (
            src.read_event_stream(spark, staged)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # phase 1: only half the drops exist
    for d in names[:2]:
        shutil.copytree(os.path.join(all_drops, d), os.path.join(staged, d))
    run()
    n_phase1 = spark.read.parquet(sink).count()
    # phase 2: remaining drops arrive; SAME checkpoint resumes
    for d in names[2:]:
        shutil.copytree(os.path.join(all_drops, d), os.path.join(staged, d))
    run()
    final = spark.read.parquet(sink)
    expected = load_table(spark, sf_dir, "events").count()
    assert n_phase1 < expected
    assert final.count() == expected
    assert final.select(F.countDistinct("event_id")).first()[0] == expected


def test_streaming_segment_daily_oracle(spark, sf_dir):
    compare_to_oracle(
        spark, jobs.streaming_segment_daily, jobs.STREAMING_SEGMENT_DAILY_SQL, sf_dir
    )


def test_resilient_sink_diverts_failed_batches(spark, sf_dir):
    """S9: a failing primary sink must divert the batch to the retry
    queue (with error metadata) without failing the stream, and the
    re-driven rows must parse back whole."""
    import os

    from datapipe_spark.streaming.sinks import redrive, resilient_writer
    from datapipe_spark.util import fresh_dir

    out = fresh_dir("resilient")
    primary, retry = os.path.join(out, "primary"), os.path.join(out, "retry")

    calls = {"n": 0}

    def flaky_write(df, path):
        calls["n"] += 1
        if calls["n"] % 2 == 0:  # every second batch fails
            raise IOError("sink unavailable")
        df.write.mode("append").parquet(path)

    writer = resilient_writer(primary, retry, write_fn=flaky_write)
    drops = src.prepare_event_drops(spark, sf_dir, sentinel=False)
    q = (
        src.read_event_stream(spark, drops, files_per_trigger=1)
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", os.path.join(out, "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from datapipe_spark.sources.tables import load_table

    total = load_table(spark, sf_dir, "events").count()
    n_primary = spark.read.parquet(primary).count()
    diverted = redrive(
        spark, retry,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    n_retry = diverted.count()
    assert n_retry > 0 and n_primary > 0
    assert n_primary + n_retry == total
    assert diverted.filter(F.col("event_id").isNull()).count() == 0


def test_live_processing_time_trigger_fires_session_timeout(spark):
    """T1 (processingTime trigger) + T2 (ProcessingTimeTimeout) live:
    a running micro-batch stream with no further input must close the
    open session via wall-clock timeout (empty no-data batches carry
    the timeout processing — the reference's 30-min expiry at 1/600
    scale)."""
    import datetime
    import os
    import time

    from datapipe_spark.streaming.sessions import apply_session_state
    from datapipe_spark.util import fresh_dir

    out = fresh_dir("live_timeout")
    src_dir, sink, cp = (
        os.path.join(out, "src"), os.path.join(out, "sink"), os.path.join(out, "cp"),
    )
    t0 = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [
            (1, t0, 0, "view", None),
            (1, t0 + datetime.timedelta(seconds=1), 1, "purchase", 9.99),
        ],
        "user_id long, ts timestamp, event_id long, event_type string, value double",
    ).coalesce(1).write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_id long, event_type string, value double"
    ).parquet(src_dir)
    # 3-second timeout (gap_minutes=0.05): both events land in one
    # session; silence afterwards must close it via the timeout path
    sessions = apply_session_state(stream, gap_minutes=0.05, use_timeout=True)
    q = (
        sessions.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", cp)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # generous deadline (only matters when something is wrong):
        # under full-suite load the 1 s empty trigger that carries the
        # timeout processing can lag far past the nominal 3 s gap
        deadline = time.time() + 120
        rows = []
        while time.time() < deadline:
            assert q.exception() is None, q.exception()
            time.sleep(1)
            try:
                rows = spark.read.parquet(sink).collect()
            except Exception:
                rows = []
            if rows:
                break
    finally:
        q.stop()
    assert len(rows) == 1, f"expected 1 timed-out session, got {rows}"
    r = rows[0]
    assert r["n_events"] == 2 and r["purchases"] == 1
    assert abs(r["total_spent"] - 9.99) < 1e-9


def test_streaming_events_hourly_tumbling_window(spark, sf_dir):
    compare_to_oracle(
        spark, jobs.streaming_events_hourly, jobs.STREAMING_EVENTS_HOURLY_SQL, sf_dir
    )


def test_raw_json_text_drops(spark, sf_dir):
    """S4 file form: the text-file Kafka-value drops parse back with
    exactly the every-97th corruption rule."""
    from datapipe_spark.sources.tables import load_table

    drops = src.prepare_event_drops(spark, sf_dir, as_json=True, corrupt_every=97)
    raw = spark.read.text(drops + "/drop_*")
    total = load_table(spark, sf_dir, "events").count()
    assert raw.count() == total
    parsed = src.parse_events(raw)
    valid, invalid = src.split_valid(parsed)
    expected_bad = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 97 == 0
    ).count()
    assert invalid.count() == expected_bad
    assert valid.count() == total - expected_bad


def test_streaming_event_transitions_equals_batch_and_oracle(spark, sf_dir):
    """The per-user last-event state machine must reproduce the batch
    window's LEAD adjacencies exactly — counts AND probabilities —
    across micro-batch replay."""
    from datapipe_spark.plans import behavior

    got = jobs.streaming_event_transitions(spark, sf_dir)
    assert _rows(got) == _rows(behavior.event_transitions(spark, sf_dir))
    compare_to_oracle(
        spark, jobs.streaming_event_transitions, behavior.EVENT_TRANSITIONS_SQL, sf_dir
    )


def test_watermark_drops_late_event_and_evicts_state(spark, tmp_path):
    """T3 negative path (realtime requirements.md:68, tasks.md:80-83):
    an event arriving AFTER the watermark has passed its hour window
    must be dropped, not merged — and closed windows must leave the
    state store (no unbounded state growth).

    Scenario (maxFilesPerTrigger=1, one drop per micro-batch):
      drop_00  events 00:10 and 01:10  → watermark advances to 01:10-1s
      drop_01  on-time event 01:20; hour window [00:00, 01:00) emits
               (n=1) and is EVICTED from state this batch
      drop_02  LATE event 00:20 — its window is gone and ts is behind
               the watermark → dropped, never re-opens the window
      drop_03  flush sentinel 30 days ahead → every real window emits

    (Measured Spark semantics, pinned here: a late row whose window is
    still buffered in the SAME batch the watermark closes it gets
    merged — allowed lateness; only a row arriving after eviction is
    dropped. The counter `numRowsDroppedByWatermark` records it.)
    """
    import datetime as dt
    import os

    drops = str(tmp_path / "drops")
    base = dt.datetime(2024, 1, 1)
    ev_row = lambda eid, minutes, etype="view": (  # noqa: E731
        eid, base + dt.timedelta(minutes=minutes), 1, etype, 1.0, None,
    )
    batches = [
        [ev_row(1, 10), ev_row(2, 70)],
        [ev_row(4, 80)],
        [ev_row(3, 20)],  # ~1 h late, window already closed + evicted
        [(99, base + dt.timedelta(days=30), 1, src.SENTINEL_TYPE, None, None)],
    ]
    mtime = 1_700_000_000
    for i, rows in enumerate(batches):
        p = os.path.join(drops, f"drop_{i:02d}")
        spark.createDataFrame(rows, src.EVENT_SCHEMA).coalesce(1).write.parquet(p)
        mtime += 10
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (mtime, mtime))

    stream = src.read_event_stream(spark, drops, files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "1 second")
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            F.count(F.when(F.col("event_type") != src.SENTINEL_TYPE, 1)).alias("n"),
            F.count(F.when(F.col("event_type") == src.SENTINEL_TYPE, 1)).alias("_flush"),
        )
    )
    sink, cp = str(tmp_path / "sink"), str(tmp_path / "cp")
    q = (
        agg.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progresses = [p for p in q.recentProgress if p["stateOperators"]]

    got = {
        (r["window"]["start"].hour, r["n"])
        for r in spark.read.parquet(sink).filter(F.col("_flush") == 0).collect()
    }
    # hour 0 closed with ONE event: the late 00:20 row was dropped;
    # hour 1 carries both on-time events
    assert got == {(0, 1), (1, 2)}, got
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progresses
        for op in p["stateOperators"]
    )
    assert dropped == 1, progresses
    # state eviction: after the final batch only the (never-emitted)
    # sentinel window may remain buffered — every real window left state
    last_state = progresses[-1]["stateOperators"][0]["numRowsTotal"]
    assert last_state <= 1, progresses[-1]


def test_live_trigger_interval_join_evicts_state_and_drops_late(spark, tmp_path):
    """r7 verdict ask #5: the stream-stream interval join under a LIVE
    ``processingTime`` trigger (the registry form replays availableNow,
    where nothing is ever late). Drops arrive while the query runs:

      drop A  error e1 00:00 + purchase p1 00:10 (same user) → pair
      drop B  error e2 02:00 + purchase p2 02:05 → pair; BOTH side
              watermarks advance to ~01:35, so e1's buffered state
              (error_ts + 30 min < watermark) is engine-evicted
      drop C  LATE purchase p3 00:20 — inside e1's window by event
              time, but behind the watermark → dropped by the engine,
              no third pair ever appears

    Asserts exact row parity with the hand-computed batch twin over
    the on-time events, plus the negative case via the state
    operator's ``numRowsDroppedByWatermark`` counter."""
    import datetime as dt
    import time

    drops, sink, cp = (str(tmp_path / d) for d in ("drops", "sink", "cp"))
    base = dt.datetime(2024, 1, 1)
    row = lambda eid, minutes, etype, val=None: (  # noqa: E731
        eid, base + dt.timedelta(minutes=minutes), 1, etype, val, None,
    )

    def write_drop(i: int, rows) -> None:
        p = os.path.join(drops, f"drop_{i:02d}")
        spark.createDataFrame(rows, src.EVENT_SCHEMA).coalesce(1).write.parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (1_700_000_000 + i * 10,) * 2)

    write_drop(0, [row(1, 0, "error"), row(2, 10, "purchase", 20.0)])
    stream = src.read_event_stream(spark, drops, files_per_trigger=1)
    joined = jobs.interval_join_error_purchases(stream)
    q = (
        joined.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", cp)
        .trigger(processingTime="1 second")
        .start()
    )

    def pairs():
        try:
            return {
                (r["error_event_id"], r["purchase_event_id"])
                for r in spark.read.parquet(sink).collect()
            }
        except Exception:  # sink not yet materialized
            return set()

    def wait_pairs(want: set, deadline_s: float = 240.0) -> set:
        # positive assertions poll with a deadline, failing fast on a
        # dead query: under full-suite load, file discovery / sink
        # commit can lag a processAllAvailable round-trip (one-off
        # flakes observed in r8 and r10)
        end = time.time() + deadline_s
        got = pairs()
        while got != want and time.time() < end:
            assert q.exception() is None, q.exception()
            q.processAllAvailable()
            time.sleep(0.5)
            got = pairs()
        return got

    # recentProgress is a BOUNDED ring (~100 entries): under suite
    # load, enough idle 1 s triggers can roll the batch carrying the
    # watermark-drop event out of it before the poll looks. Accumulate
    # per-batch drop counts across polls instead of re-deriving from
    # whatever the ring currently holds.
    seen_drops: dict = {}

    def dropped_count() -> int:
        for p in q.recentProgress:
            seen_drops[p["batchId"]] = sum(
                op.get("numRowsDroppedByWatermark", 0)
                for op in p["stateOperators"]
            )
        return sum(seen_drops.values())

    try:
        q.processAllAvailable()
        assert wait_pairs({(1, 2)}) == {(1, 2)}

        write_drop(1, [row(3, 120, "error"), row(4, 125, "purchase", 30.0)])
        q.processAllAvailable()
        assert wait_pairs({(1, 2), (3, 4)}) == {(1, 2), (3, 4)}

        # late purchase: event-time inside e1's window, arrival behind
        # the ~01:35 watermark — must be dropped, not joined
        write_drop(2, [row(5, 20, "purchase", 40.0)])
        q.processAllAvailable()
        end = time.time() + 240.0
        while dropped_count() < 1 and time.time() < end:
            assert q.exception() is None, q.exception()
            q.processAllAvailable()
            time.sleep(0.5)
        assert dropped_count() >= 1, "late purchase must be dropped by the watermark"
        assert pairs() == {(1, 2), (3, 4)}, "no third pair may ever appear"
    finally:
        q.stop()

    # hand-computed batch twin over the on-time events: exact amounts
    # and second offsets
    by_pair = {
        (r["error_event_id"], r["purchase_event_id"]): r
        for r in spark.read.parquet(sink).collect()
    }
    assert by_pair[(1, 2)]["seconds_after_error"] == 600.0
    assert by_pair[(1, 2)]["purchase_amount"] == 20.0
    assert by_pair[(3, 4)]["seconds_after_error"] == 300.0
    assert by_pair[(3, 4)]["purchase_amount"] == 30.0


def test_streaming_cross_corpus_dedup_oracle_and_arrival_order(spark, sf_dir):
    """The incremental probe-then-append pipeline equals the
    arrival-order oracle, and every emitted pair's matched side arrived
    strictly before its new side (corpus < batch 0 < batch 1 < ...) —
    the growing-index invariant that distinguishes this from the
    frozen-index probe."""
    from datapipe_spark.operators.dedup import (
        _CROSS_NEW_PRED,
        CROSS_STREAM_BATCHES,
        DEDUP_CROSS_CORPUS_STREAM_SQL,
    )
    from datapipe_spark.sources.tables import load_table

    compare_to_oracle(
        spark,
        jobs.streaming_dedup_cross_corpus,
        DEDUP_CROSS_CORPUS_STREAM_SQL,
        sf_dir,
    )
    arr = {
        r["doc_id"]: (r["doc_id"] % CROSS_STREAM_BATCHES if r["new"] else -1)
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", F.expr(_CROSS_NEW_PRED).alias("new"))
        .collect()
    }
    out = jobs.streaming_dedup_cross_corpus(spark, sf_dir).collect()
    assert out, "scenario must exercise at least one cross-arrival match"
    for r in out:
        assert arr[r["matched_doc_id"]] < arr[r["new_doc_id"]]


def test_index_append_replay_is_exactly_once(spark, tmp_path):
    """The r6 at-least-once caveat, closed: a micro-batch replayed
    after a crash must not double-append the band index. Simulates the
    two crash positions around the sink-write → index-append sequence:

    - crash AFTER append, before checkpoint commit (the double-append
      window): the replayed `batch_id` ≤ the meta.json high-watermark
      and the append is skipped — band/sig/mem row counts unchanged;
    - crash BEFORE append (after sink write): replay re-probes against
      the unmutated index and the per-batch overwrite sink dir
      replaces, not duplicates, the probe output.
    """
    from datapipe_spark.operators.dedup_index import (
        _p,
        append_minhash_index,
        build_minhash_index,
        probe_minhash_index,
    )

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    corpus = mk(
        [
            (i, f"corpus document number {i} holding plenty of distinct "
                f"shingle words alpha beta gamma {i * 7} delta")
            for i in range(8)
        ]
    )
    idx = str(tmp_path / "idx")
    build_minhash_index(spark, corpus, idx)
    assert journal.watermark(idx) == -1

    def counts():
        return tuple(
            spark.read.parquet(_p(idx, part)).count()
            for part in ("mem", "sigs", "bands")
        )

    base = counts()
    b0 = mk(
        [
            (100, "corpus document number 3 holding plenty of distinct "
                  "shingle words alpha beta gamma 21 delta"),  # near-dup of 3
            (101, "an entirely fresh batch document with its own novel "
                  "words epsilon zeta eta theta iota kappa"),
        ]
    )
    assert append_minhash_index(spark, idx, b0, batch_id=0) is True
    after0 = counts()
    assert after0 > base and journal.watermark(idx) == 0

    # crash-after-append replay: same batch id → no-op, counts frozen
    assert append_minhash_index(spark, idx, b0, batch_id=0) is False
    assert counts() == after0 and journal.watermark(idx) == 0

    # crash-BEFORE-append replay: sink written, append never ran. The
    # job writes each batch to its own overwrite dir keyed by batch id.
    sink = str(tmp_path / "sink")
    b1 = mk(
        [
            (200, "an entirely fresh batch document with its own novel "
                  "words epsilon zeta eta theta iota kappa"),  # dup of 101
        ]
    )
    for _replay in range(2):  # first pass = crashed run, second = replay
        out = probe_minhash_index(spark, idx, b1)
        out.write.mode("overwrite").parquet(os.path.join(sink, "b_00001"))
    sunk = spark.read.parquet(os.path.join(sink, "b_00001"))
    assert sunk.count() == sunk.dropDuplicates().count() > 0
    assert append_minhash_index(spark, idx, b1, batch_id=1) is True
    assert journal.watermark(idx) == 1


def test_torn_index_append_commit_recovers_exactly_once(spark, tmp_path, monkeypatch):
    """r7 advisory (medium): a crash MID-append — after some delta
    files already moved into the live part dirs but before the
    watermark advanced — previously replayed into permanent duplicate
    index rows. The append is now a journaled two-phase commit:
    simulate the torn state by crashing roll-forward after its first
    file move, then replay the batch after "restart" and require the
    index to equal a never-crashed twin exactly."""
    import json

    import pytest

    from datapipe_spark.operators import dedup_index as di

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    corpus = mk(
        [
            (i, f"corpus document number {i} holding plenty of distinct "
                f"shingle words alpha beta gamma {i * 7} delta")
            for i in range(4)
        ]
    )
    batch = mk(
        [
            (100, "corpus document number 2 holding plenty of distinct "
                  "shingle words alpha beta gamma 14 delta"),  # near-dup of 2
            (101, "an entirely fresh batch document with its own novel "
                  "words epsilon zeta eta theta iota kappa"),
        ]
    )
    idx_clean, idx_torn = str(tmp_path / "clean"), str(tmp_path / "torn")
    for idx in (idx_clean, idx_torn):
        di.build_minhash_index(spark, corpus, idx)
    assert di.append_minhash_index(spark, idx_clean, batch, batch_id=0) is True

    real_rf = di._roll_forward

    def crash_mid_commit(index_dir, sweep=False):
        jp = di._p(index_dir, di._JOURNAL)
        if not os.path.exists(jp):  # the entry-recovery call: run real
            return real_rf(index_dir, sweep=sweep)
        with open(jp) as f:
            j = json.load(f)
        src, dst = j["moves"][0]
        os.replace(src, dst)  # one delta file lands; watermark does not
        raise RuntimeError("simulated crash mid-commit")

    monkeypatch.setattr(di, "_roll_forward", crash_mid_commit)
    with pytest.raises(RuntimeError, match="mid-commit"):
        di.append_minhash_index(spark, idx_torn, batch, batch_id=0)
    monkeypatch.undo()

    # torn state on disk: journal present, commit incomplete — but the
    # journal rename IS the commit point, so the watermark must already
    # read as applied (r12 review: returning -1 here let a replayed
    # probe re-run against an index that contained its own batch)
    assert os.path.exists(di._p(idx_torn, di._JOURNAL))
    assert journal.watermark(idx_torn) == 0

    # replay after restart: entry recovery completes the journaled
    # commit (idempotent moves + meta), then the watermark skips the
    # re-append — applied exactly once
    assert di.append_minhash_index(spark, idx_torn, batch, batch_id=0) is False
    assert journal.watermark(idx_torn) == 0
    assert not os.path.exists(di._p(idx_torn, di._JOURNAL))
    assert not [n for n in os.listdir(idx_torn) if n.startswith(".staging-")]

    for part in ("mem", "sigs", "bands"):
        clean = sorted(map(tuple, spark.read.parquet(di._p(idx_clean, part)).collect()))
        torn = sorted(map(tuple, spark.read.parquet(di._p(idx_torn, part)).collect()))
        assert torn == clean, f"{part} diverged from the never-crashed twin"

    # crash BEFORE the commit point leaves only invisible staging
    # debris: the batch never committed, replays wholesale, and the
    # debris is swept by the next entry
    os.makedirs(os.path.join(idx_torn, ".staging-deadbeef", "mem"))
    nxt = mk([(200, "another novel batch document lambda mu nu xi omicron pi")])
    assert di.append_minhash_index(spark, idx_torn, nxt, batch_id=1) is True
    assert not [n for n in os.listdir(idx_torn) if n.startswith(".staging-")]
    assert journal.watermark(idx_torn) == 1


def test_append_commit_barrier_failure_aborts_pre_commit(spark, tmp_path):
    """r14: the probe-then-append job overlaps its sink write with the
    append's staging and hands the sink future's result to the append
    as ``commit_barrier``, invoked after staging and immediately before
    the commit journal. A barrier that raises (= the sink write failed)
    must abort the append PRE-commit: watermark unmoved, live part
    dirs unmutated, only invisible staging debris — and the replayed
    batch then applies exactly once."""
    from datapipe_spark.operators import dedup_index as di

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    corpus = mk(
        [
            (i, f"corpus document number {i} holding plenty of distinct "
                f"shingle words alpha beta gamma {i * 7} delta")
            for i in range(4)
        ]
    )
    idx = str(tmp_path / "idx")
    di.build_minhash_index(spark, corpus, idx)

    def counts():
        return tuple(
            spark.read.parquet(di._p(idx, part)).count()
            for part in ("mem", "sigs", "bands")
        )

    base = counts()
    batch = mk(
        [(100, "an entirely fresh batch document with its own novel "
               "words epsilon zeta eta theta iota kappa")]
    )

    import pytest

    def sink_failed():
        raise RuntimeError("simulated sink-write failure")

    with pytest.raises(RuntimeError, match="sink-write failure"):
        di.append_minhash_index(
            spark, idx, batch, batch_id=0, commit_barrier=sink_failed
        )
    # pre-commit abort: no journal, watermark unmoved, live dirs intact
    assert not os.path.exists(di._p(idx, di._JOURNAL))
    assert journal.watermark(idx) == -1
    assert counts() == base
    # the replayed batch (sink now "succeeds") applies exactly once,
    # and the failed attempt's staging debris is swept by this entry
    assert di.append_minhash_index(spark, idx, batch, batch_id=0) is True
    assert journal.watermark(idx) == 0
    assert counts() > base
    assert not [n for n in os.listdir(idx) if n.startswith(".staging-")]


def test_live_trigger_probe_then_append_mutates_index(spark, tmp_path):
    """r6 verdict ask #6: the probe-then-append corpus gate under a
    LIVE processingTime trigger (not availableNow replay) — two drops
    arriving while the query runs must each probe the index as of
    their arrival and append to it: batch 1's duplicate of a batch-0
    doc matches, the high-watermark advances per batch, and the index
    ends holding corpus + both batches."""
    import time

    from datapipe_spark.operators.dedup_index import (
        _probe_plan,
        append_minhash_index,
        build_minhash_index,
    )

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    text = (
        "live corpus gate document with a healthy number of distinct "
        "shingle words one two three four five six seven eight"
    )
    idx = str(tmp_path / "idx")
    build_minhash_index(spark, mk([(1, text + " corpus tail")]), idx)
    drops = str(tmp_path / "drops")
    sink = str(tmp_path / "sink")
    os.makedirs(drops)

    def drop(n, rows):
        mk(rows).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(drops, f"d{n}")
        )

    drop(0, [(10, text + " batch zero body")])

    def probe_then_append(bdf, bid):
        if bid <= journal.watermark(idx):
            return
        out, bmem, bsigs = _probe_plan(spark, idx, bdf)
        out.write.mode("overwrite").parquet(os.path.join(sink, f"b_{bid:05d}"))
        append_minhash_index(spark, idx, bdf, precollapsed=(bmem, bsigs), batch_id=bid)
        bmem.unpersist()
        bsigs.unpersist()

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drops, "d*"))
        .writeStream.foreachBatch(probe_then_append)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # fresh deadline per wait (a shared one starves the second
        # wait when the first runs long under suite load), fail fast
        # on a dead query
        deadline = time.time() + 180
        while journal.watermark(idx) < 0 and time.time() < deadline:
            assert q.exception() is None, q.exception()
            time.sleep(0.5)
        assert journal.watermark(idx) >= 0, "batch 0 never applied"
        # batch 1 lands while the query is live: near-dup of batch 0's doc
        drop(1, [(20, text + " batch zero body")])
        deadline = time.time() + 180
        while journal.watermark(idx) < 1 and time.time() < deadline:
            assert q.exception() is None, q.exception()
            time.sleep(0.5)
    finally:
        q.stop()
    assert journal.watermark(idx) == 1
    out = (
        spark.read.schema("new_doc_id long, corpus_doc_id long, jaccard double")
        .option("recursiveFileLookup", "true")
        .parquet(sink)
        .collect()
    )
    matches = {(r["new_doc_id"], r["corpus_doc_id"]) for r in out}
    # batch 1's doc 20 is verbatim batch 0's doc 10 → must match it,
    # proving the live append made batch 0 probe-able before batch 1 ran
    assert (20, 10) in matches, matches


def test_streaming_scd2_upserts_equals_batch_oracle(spark, sf_dir):
    """The CDC→dimension merge pipeline: micro-batched changelog,
    exactly-once per-batch SCD2 upserts, full history read-back equal
    to the one-shot batch build's oracle."""
    from datapipe_spark.plans.cdc_queries import CDC_SCD2_HISTORY_SQL

    compare_to_oracle(spark, jobs.streaming_scd2_upserts, CDC_SCD2_HISTORY_SQL, sf_dir)


def test_live_scd2_upserts_survive_kill_and_restart(spark, sf_dir, tmp_path):
    """r8 verdict ask #6: the CDC→dimension maintenance pipeline under
    a LIVE ``processingTime`` trigger (the registry form replays
    availableNow). Increments arrive while the query runs; the stream
    is KILLED mid-maintenance (after the update tail commits, before
    the delete tail exists) and restarted from the same checkpoint
    with its last commit marker removed — forcing Spark to re-deliver
    the committed batch. The store's watermark must skip the replay
    (no duplicate versions) and the final history must be
    hash-identical to the uninterrupted batch build."""
    import shutil
    import time

    from datapipe_spark.operators import scd2
    from datapipe_spark.plans.cdc_queries import cdc_scd2_history
    from datapipe_spark.sources.cdc import synth_changelog

    log = synth_changelog(spark, sf_dir)
    want = {tuple(r) for r in cdc_scd2_history(spark, sf_dir).collect()}
    dim, drops, cp = (str(tmp_path / d) for d in ("dim", "drops", "cp"))
    scd2.scd2_init(spark, dim)

    def drop(i: int, op: str) -> None:
        p = os.path.join(drops, f"drop_{i:02d}")
        log.filter(F.col("__op") == op).coalesce(1).write.mode("overwrite").parquet(p)
        for name in sorted(os.listdir(p)):
            if name.endswith(".parquet"):
                os.utime(os.path.join(p, name), (1_700_000_000 + i * 10,) * 2)

    def start(checkpoint: str):
        return (
            spark.readStream.schema(log.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(drops, "drop_*"))
            .writeStream.foreachBatch(
                lambda bdf, bid: scd2.scd2_upsert(spark, dim, bdf, batch_id=bid)
            )
            .option("checkpointLocation", checkpoint)
            .trigger(processingTime="1 second")
            .start()
        )

    def wait_watermark(n: int, q, deadline_s: float = 240.0) -> None:
        # poll-with-deadline, failing FAST on a dead query (r10 verdict
        # ask #4: under full-suite load a fixed 90 s deadline flaked;
        # the generous deadline only matters when something is wrong)
        end = time.time() + deadline_s
        while scd2._meta(dim)["last_batch_id"] < n and time.time() < end:
            assert q.exception() is None, q.exception()
            q.processAllAvailable()
            time.sleep(0.3)
        assert scd2._meta(dim)["last_batch_id"] >= n, (
            f"watermark stuck at {scd2._meta(dim)['last_batch_id']} < {n}"
        )

    def committed_batches(checkpoint: str) -> list[str]:
        cdir = os.path.join(checkpoint, "commits")
        if not os.path.isdir(cdir):
            return []
        return sorted(c for c in os.listdir(cdir) if not c.startswith("."))

    def wait_stopped(q, deadline_s: float = 120.0) -> None:
        q.stop()
        end = time.time() + deadline_s
        while q.isActive and time.time() < end:
            time.sleep(0.2)
        assert not q.isActive, "query did not terminate before restart"

    drop(0, "c")
    q = start(cp)
    try:
        wait_watermark(0, q)
        drop(1, "u")  # lands while the query is live
        wait_watermark(1, q)
        # kill off an OBSERVED committed-batch event, not wall time:
        # wait until Spark's commit marker for the update tail exists,
        # so the checkpoint copy below is guaranteed to contain it
        end = time.time() + 240
        while "1" not in committed_batches(cp) and time.time() < end:
            assert q.exception() is None, q.exception()
            q.processAllAvailable()
            time.sleep(0.3)
        assert "1" in committed_batches(cp), committed_batches(cp)
    finally:
        # kill mid-maintenance: delete tail not yet delivered; wait for
        # FULL termination so the checkpoint is quiescent before copy
        wait_stopped(q)

    # simulate the crash-before-checkpoint-commit window: restart from
    # a checkpoint whose LAST commit marker is missing (copied to a new
    # path — same-JVM restarts of a mutated log trip Spark's
    # concurrent-use guard), so the engine RE-DELIVERS batch 1
    cp2 = str(tmp_path / "cp2")
    shutil.copytree(cp, cp2)
    commits = sorted(
        c for c in os.listdir(os.path.join(cp2, "commits")) if not c.startswith(".")
    )
    os.remove(os.path.join(cp2, "commits", commits[-1]))
    crc = os.path.join(cp2, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):  # checksum sidecar must go with its file
        os.remove(crc)

    history_mid = {tuple(r) for r in scd2.scd2_read_history(spark, dim).collect()}
    q = start(cp2)
    try:
        wait_watermark(1, q)  # replayed batch 1 must watermark-skip
        # replayed batch 1 must be watermark-skipped: wait until the
        # restarted query has actually re-committed batch 1 (observed
        # commit marker, poll-with-deadline), then require zero
        # duplicate versions
        end = time.time() + 240
        while commits[-1] not in committed_batches(cp2) and time.time() < end:
            assert q.exception() is None, q.exception()
            q.processAllAvailable()
            time.sleep(0.3)
        assert commits[-1] in committed_batches(cp2), (
            "restarted query never re-committed the replayed batch",
            committed_batches(cp2),
        )
        assert {
            tuple(r) for r in scd2.scd2_read_history(spark, dim).collect()
        } == history_mid  # no duplicate versions from the replay
        drop(2, "d")
        wait_watermark(2, q)
    finally:
        wait_stopped(q)
    got = {tuple(r) for r in scd2.scd2_read_history(spark, dim).collect()}
    assert got == want


def test_streaming_pit_enrichment_equals_batch_oracle(spark, sf_dir, monkeypatch, tmp_path):
    """Streaming feature serving: per-micro-batch PIT enrichment
    against the materialized store must roll up to exactly the batch
    PIT oracle (leak-free online features)."""
    from datapipe_spark.plans.cdc_queries import LINEITEM_PIT_STATUS_ROLLUP_SQL

    monkeypatch.setenv("SPARK_GRAFT_SCD2_DIR", str(tmp_path / "scd2_pit_stream"))
    compare_to_oracle(
        spark,
        jobs.streaming_pit_enriched_lineitems,
        LINEITEM_PIT_STATUS_ROLLUP_SQL,
        sf_dir,
    )


def test_purge_interleaved_with_streaming_appends_exactly_once(spark, tmp_path):
    """Erasure DURING streaming index maintenance: a purge lands
    between micro-batch appends — the watermark is untouched, so a
    replayed pre-purge batch is still skipped (purged docs stay
    purged), later batches probe the post-purge index (erased content
    matches nothing), and surviving content keeps matching."""
    from datapipe_spark.operators import dedup_index as di

    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    t2 = "one two three four five six seven eight nine ten eleven twelve"
    t3 = "red orange yellow green blue indigo violet cyan magenta teal lime navy"

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    idx = str(tmp_path / "stream_purge_idx")
    di.build_minhash_index(spark, mk([(1, t1), (2, t2)]), idx)

    # micro-batch 0: d10 matches corpus t1; d11 is new content t3
    b0 = mk([(10, t1), (11, t3)])
    hits0 = di.probe_minhash_index(spark, idx, b0).collect()
    assert {(r["new_doc_id"], r["corpus_doc_id"]) for r in hits0} == {(10, 1)}
    assert di.append_minhash_index(spark, idx, b0, batch_id=0) is True

    # erasure lands mid-stream: corpus doc 2 and batch-0 doc 11
    stats = di.purge_minhash_index(
        spark, idx, spark.createDataFrame([(2,), (11,)], "doc_id long")
    )
    assert stats["purged_docs"] == 2
    assert journal.watermark(idx) == 0  # watermark untouched

    # a crash-replay of batch 0 is still skipped — purged docs do NOT
    # sneak back in through the replay
    assert di.append_minhash_index(spark, idx, b0, batch_id=0) is False
    mem_ids = {r["doc_id"] for r in spark.read.parquet(f"{idx}/mem").collect()}
    assert mem_ids == {1, 10}

    # micro-batch 1: verbatim copies of the two ERASED contents match
    # nothing; a copy of surviving t1 matches both remaining holders
    b1 = mk([(20, t2), (21, t3), (22, t1)])
    hits1 = di.probe_minhash_index(spark, idx, b1).collect()
    assert {(r["new_doc_id"], r["corpus_doc_id"]) for r in hits1} == {
        (22, 1),
        (22, 10),
    }
    assert di.append_minhash_index(spark, idx, b1, batch_id=1) is True
    assert journal.watermark(idx) == 1
    mem_ids = {r["doc_id"] for r in spark.read.parquet(f"{idx}/mem").collect()}
    assert mem_ids == {1, 10, 20, 21, 22}


def test_streaming_keep_best_flips_keeper_across_batches(spark, tmp_path):
    """The canonical-source keeper must FLIP when a more-trusted
    source's copy arrives in a later micro-batch, and stay put when a
    less-trusted copy arrives; singletons keep themselves."""
    import os as _os

    from datapipe_spark.streaming.jobs import streaming_keep_best

    sf = str(tmp_path / "sf")
    _os.makedirs(sf, exist_ok=True)
    shared = "the very same content crawled twice from different dumps here"
    other = "a second piece of content also crawled from two places twice"
    rows = [
        # shared content: batch 0 delivers src9's copy (id 3), batch 1
        # delivers src2's copy (id 7) — keeper must flip 3 → 7
        (3, shared, "src9"),
        (7, shared, "src2"),
        # other content: preferred src1 copy (id 1) arrives FIRST,
        # the src19 copy (id 5) later — keeper must stay 1
        (1, other, "src1"),
        (5, other, "src19"),
        # singleton
        (2, "a document all on its own with nothing else like it", "src4"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.mode("overwrite").parquet(_os.path.join(sf, "documents.parquet"))

    got = {
        r["ghash"]: (r["keep_doc_id"], r["src_rank"])
        for r in streaming_keep_best(spark, sf).collect()
    }
    import hashlib

    h = lambda t: hashlib.md5(t.encode()).hexdigest()  # noqa: E731
    assert got[h(shared)] == (7, 2)  # flipped to the later, better source
    assert got[h(other)] == (1, 1)  # unmoved by the later, worse source
    assert got[h(rows[4][1])] == (2, 4)
    assert len(got) == 3

    # state-version GC: a finished stream holds at most two dirs (the
    # final state + its crash-fallback predecessor), not O(batches)
    from datapipe_spark.util import scratch_root

    state = _os.path.join(scratch_root(), "keep_best", "state")
    versions = [n for n in _os.listdir(state) if n.startswith("v_")]
    assert 1 <= len(versions) <= 2, versions


def test_live_trigger_keep_best_survives_kill_and_restart(spark):
    """Live ``processingTime`` soak for the keeper maintenance (the r8
    live-trigger posture): drops arrive while the query runs, the
    query is killed between deliveries and restarted, and the final
    keeper state must equal the one-shot rule over everything
    delivered — the checkpoint replay + idempotent max-merge carrying
    exactly-once across the restart."""
    import os as _os
    import time as _time

    from datapipe_spark.streaming.jobs import (
        keep_best_latest_state,
        keep_best_merge_fn,
    )
    from datapipe_spark.util import fresh_dir

    out = fresh_dir("live_keep_best")
    drops, state, cp = (
        _os.path.join(out, "drops"),
        _os.path.join(out, "state"),
        _os.path.join(out, "cp"),
    )
    _os.makedirs(state, exist_ok=True)
    shared = "identical content delivered twice from two crawl sources here"

    def drop(i, rows):
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.mode("overwrite").parquet(
            _os.path.join(drops, f"drop_{i:02d}")
        )

    def start():
        stream = (
            spark.readStream.schema("doc_id long, text string, source string")
            .option("maxFilesPerTrigger", 1)
            .parquet(_os.path.join(drops, "drop_*"))
        )
        return (
            stream.writeStream.foreachBatch(keep_best_merge_fn(state))
            .option("checkpointLocation", cp)
            .trigger(processingTime="1 second")
            .start()
        )

    def keeper_map():
        df = keep_best_latest_state(spark, state)
        return (
            {}
            if df is None
            else {r["ghash"]: r["keep_doc_id"] for r in df.collect()}
        )

    def await_docs(n, deadline_s=180):
        deadline = _time.time() + deadline_s
        while _time.time() < deadline:
            m = keeper_map()
            seen = spark.read.parquet(_os.path.join(drops, "drop_*"))
            if m and len(m) == seen.select("text").distinct().count():
                return m
            _time.sleep(0.5)
        raise AssertionError(f"state never converged to {n} groups")

    drop(0, [(10, shared, "src9"), (11, "some other unrelated text entirely", "src5")])
    q = start()
    try:
        await_docs(2)
        drop(1, [(20, shared, "src2")])  # better source, live
        deadline = _time.time() + 180
        while _time.time() < deadline:
            import hashlib as _hl

            if keeper_map().get(_hl.md5(shared.encode()).hexdigest()) == 20:
                break
            _time.sleep(0.5)
        else:
            raise AssertionError("live keeper flip never landed")
    finally:
        q.stop()

    # deliver while the query is DOWN, then restart — replay must pick
    # it up and converge to the one-shot rule over all three drops
    drop(2, [(30, shared, "src1"), (31, "a third brand new document body", "src3")])
    q2 = start()
    try:
        import hashlib as _hl

        deadline = _time.time() + 180
        want = {
            _hl.md5(shared.encode()).hexdigest(): 30,
            _hl.md5(b"some other unrelated text entirely").hexdigest(): 11,
            _hl.md5(b"a third brand new document body").hexdigest(): 31,
        }
        while _time.time() < deadline:
            if keeper_map() == want:
                break
            _time.sleep(0.5)
        else:
            raise AssertionError(f"post-restart state wrong: {keeper_map()}")
    finally:
        q2.stop()
