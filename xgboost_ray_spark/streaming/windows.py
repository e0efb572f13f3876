"""Structured Streaming operators (SURVEY.md §2.2 S25).

The events table replays as a file-source stream; aggregations use event-time
tumbling/sliding windows. ``run_stream_to_memory`` drives a query to
completion synchronously (processAllAvailable against a memory sink) so the
batch-equivalence oracle can hash the result — the pattern from the public
Spark docs for deterministic streaming tests. Its returned frame holds the
sink itself; the sink's temp view is dropped before it returns.
``run_stream_to_files`` writes a checkpointed file sink to the dir its
caller names and never wipes it; the registry entries pass a fresh
``catalog.scratch_path``. Neither runner renders plan text: a test that
needs a micro-batch plan records it from the query itself
(tests/test_plan_hygiene.py).

Watermarks: ``windowed_counts`` takes a watermark delay for the append-mode
production path (late data dropped after the delay); the oracle-checked
variants run in complete mode, where the final state equals the batch
answer by construction.

Scale: streaming state lives in the state store keyed by (window, group);
watermarks bound state size. At 100 TB/day the same plan runs against Kafka
with checkpointing — the file source here swaps out, the plan does not.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xgboost_ray_spark.catalog import normalize_event_ts, table_path


def read_table_stream(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """File-source replay of a catalog table with the batch schema.

    The ONE streaming reader: every file-replay entry goes through here so
    schema-probe and glob strategy cannot fork between entries. For
    events, ``catalog.normalize_event_ts`` applies the batch catalog's
    reader contract (``ts`` must be a TIMESTAMP; the NTZ cast), so stream
    and batch plans stay identical downstream and a TIMESTAMP(NANOS) file
    fails here exactly as it does in ``catalog.load_table``.
    """
    raw_schema = spark.read.parquet(table_path(sf_dir, table)).schema
    # The file-stream source needs a directory; scope it to the one table
    # file with a glob filter.
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(stream) if table == "events" else stream


WINDOW = "1 hour"  # event-time window length of every windowed entry
# Event-time watermark delay of every watermarked entry (s25c, s25d,
# s25k); the s25d and s25k oracles spell it as 600000 ms.
WATERMARK = "10 minutes"


def windowed_counts(
    events: DataFrame, slide: str | None = None, watermark: str | None = None
) -> DataFrame:
    """Tumbling (or sliding, if ``slide``) ``WINDOW`` event-time
    aggregation."""
    src = events.withWatermark("ts", watermark) if watermark else events
    win = F.window("ts", WINDOW, slide) if slide else F.window("ts", WINDOW)
    return (
        src.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
            .alias("sum_value"),
        )
        .select(F.col("w.start").alias("wstart"), "event_type", "n", "sum_value")
    )


# Stateful streaming parallelism is a DIFFERENT knob from batch shuffle
# width: every shuffle partition materializes its own state-store instances
# (a stream-stream join keeps four per partition), and their open/commit
# overhead is paid per partition per microbatch regardless of data volume.
# Size this to state VOLUME (keys held), not to CPU count — on the local
# harness 8 partitions run the stateful suite 2-4x faster than 32 with
# identical results; on a real cluster raise it until per-partition state
# fits the executor state-store budget.
STREAM_STATE_PARTITIONS = 8


@contextmanager
def stream_state_partitions(spark: SparkSession):
    """Pin ``spark.sql.shuffle.partitions`` to ``STREAM_STATE_PARTITIONS``
    for the duration — the count is captured into a streaming query's
    state layout at ``start()`` — and restore the batch value after.
    The ONE copy of this save/set/restore protocol: every streaming
    runner (memory sink, foreachBatch CDC) enters it here so the restore
    semantics cannot drift between entries."""
    batch_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS)
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", batch_parts)


def run_stream_to_memory(
    agg: DataFrame, spark: SparkSession, output_mode: str = "complete"
) -> DataFrame:
    """Run a streaming aggregation to completion into a memory sink.

    The returned frame is resolved over the sink's temp view and holds
    the sink itself, so the view is dropped before returning: the result
    rows live on the driver exactly as long as the caller keeps the
    frame, and no run leaves a ``stream_out_*`` view registered, failed
    runs included.
    """
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    try:
        with stream_state_partitions(spark):
            q = (
                agg.writeStream.outputMode(output_mode)
                .format("memory")
                .queryName(name)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        # The memory sink keeps the result rows after stop(); the result
        # stays lazy over the sink (a driver-side collect+createDataFrame
        # round-trip here cost ~3s per 100k rows).
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def run_stream_to_files(
    df: DataFrame,
    spark: SparkSession,
    out_dir: str,
    partition_by: str | None = None,
) -> DataFrame:
    """Drive a stateless streaming transform into a checkpointed parquet
    file sink (Trigger.AvailableNow) and return the materialized output.

    This is the production ETL topology: the file sink's commit manifest
    plus the checkpoint (``<out_dir>_chk``) give end-to-end exactly-once
    — a re-run after a mid-batch crash never double-writes (the sink
    skips committed batch ids). Nothing is wiped: a caller that passes a
    dir used before resumes from its checkpoint and appends only the
    input that arrived since, and a caller that wants a fresh run passes
    a fresh ``catalog.scratch_path``.
    """
    chk_dir = out_dir + "_chk"
    writer = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", chk_dir)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if partition_by:
        writer = writer.partitionBy(partition_by)
    q = writer.start()
    q.awaitTermination()
    return spark.read.parquet(out_dir)
