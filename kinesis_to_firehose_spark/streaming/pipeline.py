"""End-to-end streaming pipeline: Kinesis-shaped source → decode →
Firehose-shaped sink (the whole reference app, Spark-first).

Reference: main.go wires batchconsumer(Kinesis/KCL) → FirehoseSender.
Here: `readStream` file source (each dropped file ≅ a shard's worth of
records — the local simulator) → decode_enhance + jsonl serialization
(all narrow, codegen) → foreachBatch Firehose sink with checkpointing
(KCL checkpoint ≅ Spark streaming checkpoint; both give resume +
exactly-once).

A real cluster deployment would swap the file source for the
spark-sql-kinesis connector — config surface kept in
KinesisSourceConfig, but constructing a reader from it here raises,
because the connector jar cannot be shipped in this environment.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kinesis_to_firehose_spark.functions.decode import decode_enhance, jsonl_line
from kinesis_to_firehose_spark.streaming.firehose import firehose_foreach_batch

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


@dataclass(frozen=True)
class KinesisSourceConfig:
    """Config surface of the reference consumer: env vars from
    launch/kinesis-to-firehose-log-archive.yml plus the KCL worker
    knobs from consumer.properties.template. Local runs map the
    micro-batch-shaping knobs onto the kinesis_replay source; the
    connector itself needs the spark-sql-kinesis jar (not shippable
    here)."""

    stream_name: str
    region: str = "us-west-2"
    app_name: str = "kinesis-to-firehose-spark"  # applicationName (lease table)
    initial_position: str = "LATEST"  # TRIM_HORIZON | LATEST
    read_rate_limit: int | None = None  # READ_RATE_LIMIT (records/s/shard)
    max_records: int = 10000  # maxRecords per GetRecords call
    idle_time_between_reads_ms: int = 1000  # idleTimeBetweenReadsInMillis
    failover_time_ms: int = 10000  # failoverTimeMillis (lease takeover)

    def reader_options(self) -> dict[str, str]:
        """The full option map for the open-source spark-sql-kinesis
        connector (`.format("kinesis")`), derived from this config —
        the piece of the wiring that IS testable without the jar.
        Option names follow the qubole/spark-sql-kinesis surface."""
        opts = {
            "streamName": self.stream_name,
            "endpointUrl": f"https://kinesis.{self.region}.amazonaws.com",
            "awsUseInstanceProfile": "true",
            # KCL initial position → connector starting position
            "startingPosition": {
                "LATEST": "latest",
                "TRIM_HORIZON": "trim_horizon",
            }[self.initial_position],
            # maxRecords per GetRecords call (consumer.properties)
            "kinesis.executor.maxFetchRecordsPerShard": str(self.max_records),
            # idleTimeBetweenReadsInMillis → fetch wait
            "kinesis.executor.maxFetchTimeInMs": str(
                self.idle_time_between_reads_ms
            ),
            "kinesis.client.describeShardInterval": str(self.failover_time_ms),
        }
        if self.read_rate_limit is not None:
            # READ_RATE_LIMIT records/s/shard ≈ records per 1s fetch
            opts["kinesis.executor.maxFetchRecordsPerShard"] = str(
                min(self.max_records, self.read_rate_limit)
            )
        return opts

    def reader(self, spark: SparkSession):
        """Build the connector reader. The options wiring is real; only
        `.load()` can fail here, because the spark-sql-kinesis jar is
        not shippable in this environment — the error says so instead
        of surfacing a bare ClassNotFound."""
        stream_reader = spark.readStream.format("kinesis")
        for k, v in self.reader_options().items():
            stream_reader = stream_reader.option(k, v)
        try:
            return stream_reader.load()
        except Exception as exc:
            raise RuntimeError(
                "The spark-sql-kinesis connector jar is not available in "
                "this environment; use file_stream_source() locally or add "
                "the connector jar on a real cluster."
            ) from exc

    def replay_options(self) -> dict[str, str]:
        """Map the reference's consumer knobs onto the kinesis_replay
        data source: initialPositionInStream passes through verbatim,
        and READ_RATE_LIMIT (records/s/shard, main.go:52) becomes the
        per-trigger admission cap using the KCL read cadence
        (idleTimeBetweenReadsInMillis) as the records/s → records/
        trigger conversion."""
        opts = {"initialPosition": self.initial_position}
        if self.read_rate_limit is not None:
            per_trigger = max(
                1,
                self.read_rate_limit
                * self.idle_time_between_reads_ms
                // 1000,
            )
            opts["maxRecordsPerShardPerTrigger"] = str(per_trigger)
        return opts


def file_stream_source(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Local Kinesis simulator: a directory where each new parquet file
    is a micro-batch of records (≅ shard get-records pages)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def decoded_stream(events: DataFrame) -> DataFrame:
    """Decode + serialize, producing (stream, line) delivery rows.

    stream tag = event_type (the reference routes by log tag to the
    configured delivery stream; firehose_sender.go:75 uses a single
    stream name — we keep per-type streams to exercise multi-stream
    routing, same as kbc's []string tags)."""
    d = decode_enhance(events)
    return d.select(
        F.col("event_type").alias("stream"),
        jsonl_line(d).alias("line"),
        "ts",
    )


# Production trigger cadence — the reference's BatchInterval (main.go:48)
# is the outer bound on delivery latency; a processingTime trigger is
# Spark's equivalent knob. Tests pass trigger_processing_time=None so
# processAllAvailable() drains micro-batches back-to-back.
PRODUCTION_TRIGGER = "10 seconds"


def run_pipeline(
    spark: SparkSession,
    source_dir: str,
    output_root: str,
    checkpoint_dir: str,
    dead_letter_dir: str | None = None,
    transport_factory=None,
    trigger_processing_time: str | None = None,
):
    """Start the full pipeline; returns the StreamingQuery. Callers
    use q.processAllAvailable() for deterministic local runs; a real
    deployment passes trigger_processing_time=PRODUCTION_TRIGGER so
    micro-batches fire on the reference's 10 s cadence."""
    return _start_delivery(
        file_stream_source(spark, source_dir), output_root, checkpoint_dir,
        dead_letter_dir, transport_factory, trigger_processing_time,
    )


def _start_delivery(
    events: DataFrame,
    output_root: str,
    checkpoint_dir: str,
    dead_letter_dir: str | None,
    transport_factory,
    trigger_processing_time: str | None = None,
):
    """The one sink wiring behind both pipelines: decode → observed
    delivery metrics → checkpointed foreachBatch Firehose sink."""
    # native observability channel: per-micro-batch record/byte counts
    # surface in every progress event's observedMetrics (the
    # throughput signal the reference scrapes from its KCL worker
    # logs), computed inside the running plan — no second scan.
    delivery = decoded_stream(events).observe(
        "delivery_metrics",
        F.count(F.lit(1)).alias("records"),
        F.sum(F.length("line") + 1).alias("line_bytes"),
    )
    sink = firehose_foreach_batch(
        output_root,
        dead_letter_dir=dead_letter_dir,
        transport_factory=transport_factory,
    )
    writer = delivery.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_processing_time is not None:
        writer = writer.trigger(processingTime=trigger_processing_time)
    return writer.start()


def drop_stats_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Streaming drop-stats (stats.go): 1-minute tumbling window counts
    of dropped records by app/level, with a watermark for late data."""
    src = file_stream_source(spark, source_dir, max_files_per_trigger)
    dropped = src.filter(
        ~F.col("event_type").isin("click", "view", "purchase", "signup")
    )
    # same fallback semantics as the batch op (stats.go:49-56):
    # missing app → _UNKNOWN_, missing level → debug
    app = F.coalesce(
        F.when(F.col("value") >= 5, F.col("event_type")), F.lit("_UNKNOWN_")
    )
    level = F.coalesce(
        F.when(F.col("value") < 50, F.lit("warning")).when(
            F.col("value") < 90, F.lit("critical")
        ),
        F.lit("debug"),
    )
    return (
        dropped.withColumn("level", level)
        .withColumn("container_app", app)
        .withWatermark("ts", "10 minutes")
        .groupBy(
            F.window("ts", "1 minute").alias("minute"),
            "container_app",
            "level",
        )
        .agg(F.count("*").alias("n_dropped"))
    )


def session_window_stream(
    spark: SparkSession,
    source_dir: str,
    gap: str = "6 hours",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming sessionization with the NATIVE session_window operator
    (same engine primitive as the batch `session_window_agg` op, so the
    two are directly comparable). Append mode emits a session once the
    watermark passes its close; state per open session is bounded by
    the gap — the shape that holds on an unbounded stream."""
    src = file_stream_source(spark, source_dir)
    return (
        src.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "session_value",
        )
    )


def attribution_stream_join(
    spark: SparkSession,
    source_dir: str,
    horizon: str = "2 hours",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to the same
    user's clicks in the preceding `horizon`. Both sides are
    watermarked and the join carries a time-range predicate, so state
    on each side is bounded by (rate × (watermark + horizon)) — the
    only stream-stream join shape that survives an unbounded stream;
    an unconstrained join would buffer both streams forever. Batch
    twin for the parity test: the same filter+join on the static
    events table."""
    src = file_stream_source(spark, source_dir)
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}")
        ),
    ).select(
        "purchase_id", "click_id", "p_user", "purchase_ts", "click_ts",
        "purchase_value",
    )


def attribution_stream_outer(
    spark: SparkSession,
    source_dir: str,
    horizon: str = "2 hours",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream LEFT OUTER join: every purchase is attributed to
    prior clicks in `horizon`, and purchases with NO qualifying click
    still surface — with NULL click columns — once the watermark
    passes their join window (Spark can only then prove no match will
    ever arrive; the unmatched row is necessarily late by design).
    This is the "unattributed conversions" feed an ads pipeline
    reconciles against billing. Same bounded state as the inner
    variant: both sides watermarked + time-range-constrained."""
    src = file_stream_source(spark, source_dir)
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}")
        ),
        "left_outer",
    ).select(
        "purchase_id", "p_user", "purchase_ts", "purchase_value",
        "click_id", "click_ts",
    )


def dedup_stream(
    spark: SparkSession, source_dir: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact dedup on event_id: Kinesis redelivers on shard
    handover / consumer restart, and at-least-once sources make
    duplicate records a WHEN not an IF. dropDuplicatesWithinWatermark
    keeps per-key state only until the watermark passes, so state is
    bounded by (event rate × watermark) instead of growing forever —
    the only dedup shape that survives an unbounded stream."""
    src = file_stream_source(spark, source_dir)
    return src.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


LATEST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ts_us", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)

LATEST_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def latest_per_key_stream(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "10 minutes",
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Streaming twin of the batch `latest_per_key` compaction: maintain
    each user's most recent event as custom state over a simulated CDC
    feed, emitting a key only in micro-batches where its snapshot row
    CHANGED — an upsert/changelog feed shaped for a key-value sink.

    Upstream dropDuplicatesWithinWatermark absorbs at-least-once
    redelivery (a replayed record compares equal, not newer, so it can
    never flap the snapshot — but dropping it first keeps the state op
    from re-emitting no-op updates). State is one fixed-width row per
    live key — the minimal snapshot footprint; recency ties broken by
    event_id, same total order as the batch op, so the final state
    after draining the feed equals `latest_per_key` exactly."""
    src = file_stream_source(spark, source_dir, max_files_per_trigger)
    deduped = src.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )

    def _upsert(key, pdfs, state: GroupState):
        import pandas as pd

        best = state.get if state.exists else None  # (ts_us, id, type, value)
        for pdf in pdfs:
            for row in pdf.itertuples(index=False):
                ts_us = row.ts.value // 1_000
                cand = (ts_us, int(row.event_id), row.event_type,
                        float(row.value))
                if best is None or cand[:2] > best[:2]:
                    best = cand
        changed = best is not None and (
            not state.exists or tuple(state.get) != best
        )
        if changed:
            state.update(best)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "event_id": [best[1]],
                    "ts": [pd.Timestamp(best[0], unit="us")],
                    "event_type": [best[2]],
                    "value": [best[3]],
                }
            )

    return deduped.groupBy(F.col("user_id")).applyInPandasWithState(
        _upsert,
        LATEST_OUTPUT_SCHEMA,
        LATEST_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def write_source_slice(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 4
) -> None:
    """Split the events table into n parquet files to feed the file
    stream simulator."""
    from kinesis_to_firehose_spark.sources.tables import load

    os.makedirs(out_dir, exist_ok=True)
    (
        load(spark, "events", sf_dir)
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def snapshot_sink(
    spark: SparkSession,
    source_dir: str,
    snapshot_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    max_files_per_trigger: int = 4,
    n_key_files: int = 4,
    layout: str = "dirs",
    keep_versions: int = 1,
):
    """The CDC loop closed end-to-end: change feed → stateful upsert
    (latest_per_key_stream emits only keys whose snapshot row changed)
    → per-epoch MERGE into the persisted point-lookup snapshot
    (sources/bucketed.write_snapshot layout). Each micro-batch merges
    (existing rows for unchanged keys) ∪ (epoch updates) — the same
    newest-wins semantics as the batch merge_upsert operator — and
    the merge is PARTITION-TARGETED: the hash layout names exactly
    which files contain changed keys, so only those are read and
    atomically replaced (snapshot_merge_targeted). Epoch cost is
    O(changed partitions), not O(snapshot). keep_versions > 1 retains
    that many epochs for time-travel reads (snapshot_read(version=));
    an existing store's retention setting wins. Returns the
    StreamingQuery."""
    from kinesis_to_firehose_spark.sources.bucketed import (
        snapshot_merge_targeted,
    )

    updates = latest_per_key_stream(
        spark, source_dir, watermark, max_files_per_trigger
    )

    def _merge(batch_df, batch_id):
        changed = batch_df.localCheckpoint(eager=True)
        if changed.isEmpty():
            return
        # targeted: only partition files containing changed keys are
        # read or rewritten, published with an atomic meta flip
        snapshot_merge_targeted(
            spark, snapshot_dir, changed, n_key_files=n_key_files,
            layout=layout, keep_versions=keep_versions,
        )

    return (
        updates.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_merge)
        .start()
    )


def stats_snapshot_sink(
    spark: SparkSession,
    source_dir: str,
    snapshot_dir: str,
    checkpoint_dir: str,
    layout: str = "manifest",
    keep_versions: int = 3,
    n_key_files: int = 4,
    max_files_per_trigger: int = 1,
):
    """STREAMING AGGREGATE EXPORT: the drop-stats feed (stats.go's
    per-minute dropped-record counts) maintained as a queryable,
    versioned snapshot table — the serving side of the observability
    pipeline. Each micro-batch's UPDATED (minute, app, level) rows are
    merged newest-wins into the snapshot store keyed by the composite
    stats_key, so the store always holds the latest count per cell and
    converges to the batch aggregate once the stream drains. Epoch
    cost is O(changed partitions) (snapshot_merge_targeted); with
    keep_versions > 1 each trigger's commit is retained for
    time-travel reads — an operator can diff the stats table between
    epochs (what changed this minute?) without any extra bookkeeping.

    Defaults to the manifest layout: the store's file set is named by
    a per-version manifest json, so epoch merges move O(changed) files
    and version retention shares immutable data files — the
    Iceberg/Delta posture, which is the right one for a stats table
    updated every trigger forever. Returns the StreamingQuery."""
    from kinesis_to_firehose_spark.sources.bucketed import (
        snapshot_merge_targeted,
    )

    updates = drop_stats_stream(
        spark, source_dir, max_files_per_trigger
    ).select(
        F.col("minute.start").alias("minute_start"),
        "container_app",
        "level",
        "n_dropped",
        F.concat_ws(
            "|",
            F.col("minute.start").cast("string"),
            "container_app",
            "level",
        ).alias("stats_key"),
    )

    def _merge(batch_df, batch_id):
        changed = batch_df.localCheckpoint(eager=True)
        if changed.isEmpty():
            return
        snapshot_merge_targeted(
            spark, snapshot_dir, changed, key="stats_key",
            n_key_files=n_key_files, layout=layout,
            keep_versions=keep_versions,
        )

    return (
        updates.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_merge)
        .start()
    )


# ---------------------------------------------------------------------
# ewma_stream — streaming twin of the batch ewma_smooth operator:
# per-series EWMA (α=1/2, 4 lags) computed incrementally with
# applyInPandasWithState carrying each series' lag buffer across
# micro-batches. The fold arithmetic mirrors the batch op's
# left-associative term order exactly (value + l1·0.5 + l2·0.25 +
# l3·0.125 + l4·0.0625, missing lags contributing literal 0.0), so a
# time-ordered replay of the feed produces BIT-IDENTICAL doubles to
# the batch window — asserted in tests. Emits the raw double; callers
# round at the query edge like the batch op does.
# State per series is five fixed-width fields (4 lags + count) — the
# minimal footprint, independent of history length.
# ---------------------------------------------------------------------
EWMA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("l1", T.DoubleType()),
        T.StructField("l2", T.DoubleType()),
        T.StructField("l3", T.DoubleType()),
        T.StructField("l4", T.DoubleType()),
        T.StructField("n", T.IntegerType()),
    ]
)
EWMA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ewma_raw", T.DoubleType()),
    ]
)
_EWMA_COEFFS = (0.5, 0.25, 0.125, 0.0625)


def ewma_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    src = file_stream_source(spark, source_dir, max_files_per_trigger)

    def _ewma(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            l1, l2, l3, l4, n = state.get
            lags = [l1, l2, l3, l4]
        else:
            lags, n = [0.0, 0.0, 0.0, 0.0], 0
        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows) == 0:
            return
        rows = rows.sort_values(["ts", "event_id"])
        out_ids, out_ts, out_val, out_ewma = [], [], [], []
        for row in rows.itertuples(index=False):
            v = float(row.value)
            num, den = v, 1.0
            for i, c in enumerate(_EWMA_COEFFS):
                if n > i:
                    num = num + lags[i] * c
                    den = den + c
                else:  # batch CASE arm: missing lag adds literal 0.0
                    num = num + 0.0
                    den = den + 0.0
            out_ids.append(int(row.event_id))
            out_ts.append(row.ts)
            out_val.append(v)
            out_ewma.append(num / den)
            lags = [v, lags[0], lags[1], lags[2]]
            n = min(n + 1, 4)
        state.update((lags[0], lags[1], lags[2], lags[3], n))
        yield pd.DataFrame(
            {
                "event_id": out_ids,
                "event_type": [key[0]] * len(out_ids),
                "ts": out_ts,
                "value": out_val,
                "ewma_raw": out_ewma,
            }
        )

    return src.groupBy(F.col("event_type")).applyInPandasWithState(
        _ewma,
        EWMA_OUTPUT_SCHEMA,
        EWMA_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def write_time_sliced_source(
    spark: SparkSession, sf_dir: str, out_dir: str, n_slices: int = 3
) -> None:
    """Time-ORDERED feed for sequence-sensitive streams (EWMA): slice
    events into contiguous ts ranges, one parquet file per slice, with
    strictly increasing mtimes so the file stream replays history in
    event-time order (a shard replay, unlike write_source_slice's
    random split)."""
    import glob
    import shutil
    import time

    from kinesis_to_firehose_spark.sources.tables import load

    e = load(spark, "events", sf_dir)
    qs = [i / n_slices for i in range(1, n_slices)]
    edges = e.selectExpr(
        f"percentile(cast(ts as double), array({', '.join(map(str, qs))})) AS p"
    ).first()["p"]
    os.makedirs(out_dir, exist_ok=True)
    bounds = [float("-inf"), *edges, float("inf")]
    for i in range(n_slices):
        lo, hi = bounds[i], bounds[i + 1]
        part = e.filter(
            (F.col("ts").cast("double") >= lo)
            & (F.col("ts").cast("double") < hi)
        )
        tmp = os.path.join(out_dir, f".slice-{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        [src] = glob.glob(os.path.join(tmp, "*.parquet"))
        dst = os.path.join(out_dir, f"slice-{i:03d}.parquet")
        shutil.move(src, dst)
        shutil.rmtree(tmp)
        t = time.time() - (n_slices - i) * 10
        os.utime(dst, (t, t))


# ---------------------------------------------------------------------
# topk_stream — streaming twin of hourly_top_users: watermarked
# tumbling-window counts per (hour, user) in APPEND mode, so a window
# emits exactly once — when the watermark proves it complete. The
# per-window rank is computed in the sink over each emitted batch
# (rows for a closed window all arrive in the same batch, because
# append mode releases a window atomically). State is bounded by the
# watermark: one count row per (open window, user).
# ---------------------------------------------------------------------
def topk_stream(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    src = file_stream_source(spark, source_dir, max_files_per_trigger)
    return (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "user_id")
        .count()
        .select(
            F.col("win.start").alias("hour"),
            "user_id",
            F.col("count").cast("bigint").alias("n"),
        )
    )


def rank_topk_batch(batch_df: DataFrame, k: int) -> DataFrame:
    """Sink-side rank for topk_stream batches: same ordering contract
    as the batch op (count desc, user_id asc)."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("hour").orderBy(F.desc("n"), F.col("user_id"))
    return (
        batch_df.withColumn(
            "rank", F.row_number().over(w).cast("bigint")
        )
        .filter(F.col("rank") <= k)
        .select("hour", "user_id", "n", "rank")
    )


def run_pipeline_replay(
    spark: SparkSession,
    replay_dir: str,
    output_root: str,
    checkpoint_dir: str,
    dead_letter_dir: str | None = None,
    transport_factory=None,
    source_config: KinesisSourceConfig | None = None,
):
    """The full reference pipeline fronted by the REAL connector
    surface: format("kinesis_replay") (shard-parallel reads, per-shard
    sequence-number offsets) → JSON payload decode → decode/enhance →
    Firehose-protocol sink. This is the closest local analogue of the
    production wiring (KCL shard consumer → ProcessMessage → Firehose,
    main.go:49-56): swap the replay directory for the AWS transport
    and nothing downstream changes."""
    from kinesis_to_firehose_spark.sources.kinesis_datasource import (
        register_replay_source,
    )

    register_replay_source(spark)
    reader = spark.readStream.format("kinesis_replay").option(
        "path", replay_dir
    )
    if source_config is not None:
        # initialPositionInStream + READ_RATE_LIMIT enforcement,
        # derived from the same env surface the reference consumes
        for k, v in source_config.replay_options().items():
            reader = reader.option(k, v)
    raw = reader.load()
    events = raw.select(
        F.from_json(F.col("data"), EVENT_SCHEMA).alias("e")
    ).select("e.*")
    return _start_delivery(
        events, output_root, checkpoint_dir, dead_letter_dir, transport_factory
    )


# ---------------------------------------------------------------------
# cusum_stream — streaming drift detection: the one-sided CUSUM
# recursion S_t = max(0, S_{t-1} + (x_t − μ − k)) maintained as
# per-series state across micro-batches. Input is the stream of daily
# count rows (event_type, day, x) — the change feed a windowed
# count aggregation emits — and the baseline (μ, k) comes from
# REFERENCE-period stats passed in as (n, sx) per series: a drift
# detector's baseline is trained, not inferred from the live window
# (the batch op derives the same stats from the whole series, so
# feeding those here reproduces it bit-for-bit — asserted in tests).
#
# State per series is two INTEGERS in the batch op's exact 4n-scaled
# domain (running prefix p, running min) — zero float error
# accumulation, footprint independent of history length. The emitted
# statistic is the same IEEE division the batch op performs
# (s_scaled / 4n), unrounded; callers round at the query edge.
# ---------------------------------------------------------------------
CUSUM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("p", T.LongType()),
        T.StructField("minp", T.LongType()),
    ]
)
CUSUM_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("day", T.StringType()),
        T.StructField("cusum_raw", T.DoubleType()),
        T.StructField("drifting", T.IntegerType()),
    ]
)


def cusum_stream(
    spark: SparkSession,
    source_dir: str,
    ref_stats: dict[str, tuple[int, int]],
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """ref_stats: event_type -> (n, sx) reference-period stats fixing
    μ = sx/n and allowance k = μ/4. Series without a baseline are
    skipped (no reference → no detection)."""
    src = (
        spark.readStream.schema("event_type string, day string, x long")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    bstats = {k: (int(n), int(sx)) for k, (n, sx) in ref_stats.items()}

    def _cusum(key, pdfs, state: GroupState):
        import pandas as pd

        et = key[0]
        if et not in bstats:
            return
        n, sx = bstats[et]
        p, minp = state.get if state.exists else (0, 0)
        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows) == 0:
            return
        rows = rows.sort_values("day")
        days, raws, drift = [], [], []
        for row in rows.itertuples(index=False):
            p += 4 * n * int(row.x) - 5 * sx
            minp = min(minp, p)
            s = p - min(minp, 0)
            days.append(row.day)
            raws.append(s / (4 * n))
            drift.append(1 if s > 0 else 0)
        state.update((p, minp))
        yield pd.DataFrame(
            {
                "event_type": [et] * len(days),
                "day": days,
                "cusum_raw": raws,
                "drifting": drift,
            }
        )

    return src.groupBy(F.col("event_type")).applyInPandasWithState(
        _cusum,
        CUSUM_OUTPUT_SCHEMA,
        CUSUM_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------
# hll_stream — streaming mergeable-sketch maintenance: per-(type, day)
# Datasketches HLL sketches of distinct users kept in the STATE STORE
# by a watermarked streaming aggregation (update mode re-emits a key's
# current sketch as it absorbs records). The sink keeps the latest
# binary per key; weekly/monthly rollups are hll_union_agg over those
# kilobyte sketches — the streaming half of hll_partition_merge's
# 100 TB cardinality pattern (daily partitions aggregate once; every
# later grain is sketch-union, never a raw rescan).
# ---------------------------------------------------------------------
def hll_stream(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "40 days",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    src = file_stream_source(spark, source_dir, max_files_per_trigger)
    return (
        src.withWatermark("ts", watermark)
        .groupBy(
            F.col("event_type"),
            F.date_trunc("week", F.col("ts")).alias("week"),
            F.col("ts").cast("date").alias("day"),
        )
        .agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    )


# ---------------------------------------------------------------------
# funnel_stream — streaming twin of the batch window_funnel_levels op
# (operators/analytics.py): the time-constrained click → view →
# purchase funnel maintained as PER-USER state across micro-batches.
#
# State per user is three nullable int64 event-time micros
# (t1, t2, t3) — the earliest anchor click, the earliest qualifying
# view after it, the earliest qualifying purchase after that — a
# fixed-width record regardless of how many events the user ever
# emits. Under the replay contract every streaming twin here shares
# (slices arrive in event-time order; write_source_slices_ordered),
# the first qualifying event seen IS the minimum, so the state
# transition needs no history:
#   click:    t1 ← ts if t1 unset           (anchor = MIN click)
#   view:     t2 ← ts if t1 set, t2 unset, t1 < ts ≤ t1 + W
#   purchase: t3 ← ts if t2 set, t3 unset, t2 < ts ≤ t1 + W
# Each batch emits the user's CURRENT level (update mode); the sink
# keeps the latest per user, and the level histogram of those finals
# equals the batch op exactly (asserted in tests).
# ---------------------------------------------------------------------
FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("t1", T.LongType()),
        T.StructField("t2", T.LongType()),
        T.StructField("t3", T.LongType()),
    ]
)
FUNNEL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("level", T.IntegerType()),
    ]
)


def funnel_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Source: parquet slices of (user_id long, ts timestamp,
    event_type string) replayed in event-time order. Emits (user_id,
    current level) for every user touched by the micro-batch."""
    from kinesis_to_firehose_spark.operators.analytics import (
        FUNNEL_WINDOW_HOURS,
    )

    window_us = FUNNEL_WINDOW_HOURS * 3600 * 1_000_000
    src = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_type string"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    def _funnel(key, pdfs, state: GroupState):
        import pandas as pd

        t1, t2, t3 = state.get if state.exists else (None, None, None)
        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows) == 0:
            return
        rows = rows.sort_values("ts")
        for row in rows.itertuples(index=False):
            ts = int(row.ts.value) // 1000  # pandas ns → µs (event grid)
            et = row.event_type
            if et == "click":
                if t1 is None:
                    t1 = ts
            elif et == "view":
                if t1 is not None and t2 is None and t1 < ts <= t1 + window_us:
                    t2 = ts
            elif et == "purchase":
                if t2 is not None and t3 is None and t2 < ts <= t1 + window_us:
                    t3 = ts
        state.update((t1, t2, t3))
        level = 3 if t3 is not None else 2 if t2 is not None else (
            1 if t1 is not None else 0
        )
        yield pd.DataFrame({"user_id": [key[0]], "level": [level]})

    return src.groupBy(F.col("user_id")).applyInPandasWithState(
        _funnel,
        FUNNEL_OUTPUT_SCHEMA,
        FUNNEL_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
