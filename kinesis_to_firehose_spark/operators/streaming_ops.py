"""Registry entries that drive the STREAMING pipeline end-to-end
(SURVEY.md §2.1 firehose_sink / kinesis_source / checkpoint_resume).

Each op physically runs Structured Streaming against temp dirs and
returns a small result DataFrame summarizing what was delivered —
so the driver's correctness gate exercises the streaming path, not
just batch queries. The delivered-count summaries have exact SQL
oracles (delivery is loss-free over `events`).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_to_firehose_spark.registry import register
from kinesis_to_firehose_spark.streaming.firehose import read_delivered
from kinesis_to_firehose_spark.streaming.pipeline import (
    file_stream_source,
    run_pipeline,
    write_source_slice,
)

STREAMS = ("click", "view", "purchase", "signup", "error")

COUNTS_BY_STREAM_SQL = """
SELECT event_type AS stream, COUNT(*) AS n_delivered
FROM events
GROUP BY event_type
ORDER BY stream
"""
N_RECORDS_SQL = "SELECT COUNT(*) AS n_records FROM events"


def _delivered_counts(spark: SparkSession, root: str) -> DataFrame:
    data = [(s, len(read_delivered(root, s))) for s in STREAMS]
    return spark.createDataFrame(data, "stream string, n_delivered long").orderBy(
        "stream"
    )


@register("firehose_sink", COUNTS_BY_STREAM_SQL, streaming=True)
def firehose_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline run: file-stream source → decode → Firehose sink;
    returns per-stream delivered counts (oracle: events by type —
    delivery is loss-free)."""
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        write_source_slice(spark, sf_dir, src, n_files=3)
        q = run_pipeline(spark, src, out, ckpt)
        q.processAllAvailable()
        q.stop()
        return _delivered_counts(spark, out)


@register("checkpoint_resume", COUNTS_BY_STREAM_SQL, streaming=True)
def checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the pipeline, stop it, restart from the same checkpoint with
    no new input: delivered counts must be unchanged (exactly-once).
    Oracle is the same per-type counts — any duplicate delivery on the
    resumed run breaks the match."""
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        write_source_slice(spark, sf_dir, src, n_files=2)
        q = run_pipeline(spark, src, out, ckpt)
        q.processAllAvailable()
        q.stop()
        q2 = run_pipeline(spark, src, out, ckpt)  # resume, no new data
        q2.processAllAvailable()
        q2.stop()
        return _delivered_counts(spark, out)


@register("kinesis_source", N_RECORDS_SQL, streaming=True)
def kinesis_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-read the events table through the file-source Kinesis
    simulator (availableNow semantics via processAllAvailable) and
    count records — proves the source surfaces every record once."""
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        write_source_slice(spark, sf_dir, src, n_files=3)
        name = "kinesis_source_smoke"
        q = (
            file_stream_source(spark, src)
            .groupBy()
            .agg(F.count("*").alias("n_records"))
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return spark.table(name)


@register("kinesis_replay_source", N_RECORDS_SQL, streaming=True)
def kinesis_replay_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events table through the REAL connector surface —
    the `kinesis_replay` Python Data Source (one partition per shard,
    per-shard sequence-number offsets) — and count records: every
    record surfaces exactly once through format("kinesis_replay").
    The producer half routes by user_id (Kinesis partition-key
    semantics: one user's records stay shard-ordered)."""
    from kinesis_to_firehose_spark.sources.kinesis_datasource import (
        register_replay_source,
        write_replay_slices_distributed,
    )
    from kinesis_to_firehose_spark.sources.tables import load

    register_replay_source(spark)
    records = load(spark, "events", sf_dir).select(
        F.col("user_id").cast("string").alias("pk"),
        F.to_json(F.struct("event_id", "ts", "event_type", "value")).alias(
            "data"
        ),
        "ts",
        "event_id",
    )
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "stream")
        # executor-side slice write — no record crosses the driver;
        # (ts, event_id) is the events table's arrival order, so each
        # user's records land shard-ordered as the docstring promises
        write_replay_slices_distributed(
            spark, records, src, n_shards=4, order_cols=("ts", "event_id")
        )
        name = "kinesis_replay_smoke"
        q = (
            spark.readStream.format("kinesis_replay")
            .option("path", src)
            .load()
            .groupBy()
            .agg(F.count("*").alias("n_records"))
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return spark.table(name)


# Per-shard backlog under the DuckDB gate (round-11, verdict task 7):
# records_behind_latest — the record-count analogue of KCL's
# MillisBehindLatest (sources/kinesis_datasource.py:755) — previously
# lived only in pytest. Here the events table is routed over 4 shards
# by the REAL producer (md5 of the user_id partition key), each shard
# is "consumed" through exactly half its complete records (offset =
# (line, byte) from the same boundary scan the connector polls with),
# and the emitted backlog table must match SQL recomputing the md5
# routing and the half-split arithmetic from the raw events.
SHARD_BACKLOG_N_SHARDS = 4

SHARD_BACKLOG_SQL = f"""
WITH routed AS (
  SELECT 'shard-' || CAST(
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
           % {SHARD_BACKLOG_N_SHARDS} AS VARCHAR) AS shard
  FROM events
),
c AS (SELECT shard, COUNT(*) AS n FROM routed GROUP BY shard)
SELECT shard,
       CAST(n AS BIGINT) AS n_records,
       CAST(n // 2 AS BIGINT) AS consumed,
       CAST(n - n // 2 AS BIGINT) AS records_behind
FROM c
ORDER BY shard
"""


@register("shard_backlog", SHARD_BACKLOG_SQL)
def shard_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_to_firehose_spark.sources.kinesis_datasource import (
        _scan_complete,
        _shard_files,
        records_behind_latest,
        write_replay_slices_distributed,
    )
    from kinesis_to_firehose_spark.sources.tables import load

    records = load(spark, "events", sf_dir).select(
        F.col("user_id").cast("string").alias("pk"),
        F.to_json(F.struct("event_id", "ts", "event_type", "value")).alias(
            "data"
        ),
        "ts",
        "event_id",
    )
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "stream")
        write_replay_slices_distributed(
            spark,
            records,
            src,
            n_shards=SHARD_BACKLOG_N_SHARDS,
            order_cols=("ts", "event_id"),
        )
        offsets: dict[str, list[int]] = {}
        totals: dict[str, int] = {}
        for f in _shard_files(src):
            shard = f[: -len(".jsonl")]
            fp = os.path.join(src, f)
            total, _ = _scan_complete(fp, 0, 0)
            line, byte = _scan_complete(fp, 0, 0, max_lines=total // 2)
            offsets[shard] = [line, byte]
            totals[shard] = total
        behind = records_behind_latest(src, offsets)
        data = [
            (s, totals[s], offsets[s][0], behind[s]) for s in sorted(totals)
        ]
    return spark.createDataFrame(
        data,
        "shard string, n_records long, consumed long, records_behind long",
    ).orderBy("shard")
