"""Streaming ingest pipeline — the continuous twin of corpus_pipeline.py.

The reference has no streaming story (xgboost_ray trains on static
matrices); this example shows the engine's Structured Streaming surface
doing what a production ingest does between an event feed and a
training-data lake:

  replay events as a stream
    -> keep only purchase events (stateless filter, pushdown applies)
    -> drop duplicate event_ids within the watermark horizon
       (exactly-once against at-least-once upstream delivery)
    -> derive the partition day
    -> write to a date-partitioned parquet file sink with a checkpoint
       (Trigger.AvailableNow: one catch-up run per invocation)

and then PROVES the result: the sink contents must equal the batch
answer over the same table — streaming/batch equivalence on a finite
replay, the same oracle discipline as the s25* registry entries.

At scale: dedup state holds only event_ids inside the watermark, the
file sink commits atomically per microbatch, and downstream daily jobs
prune to one day directory.

Run: python examples/streaming_ingest.py [--sf-dir /root/testdata/sf0.001]
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import argparse

from pyspark.sql import functions as F

from xgboost_ray_spark.catalog import load_table, scratch_path
from xgboost_ray_spark.session import get_spark
from xgboost_ray_spark.streaming.windows import (
    read_table_stream,
    run_stream_to_files,
)


def main(sf_dir: str = "/root/testdata/sf0.001") -> dict:
    spark = get_spark(app_name="example-streaming-ingest")

    etl = (
        read_table_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        # dropDuplicatesWithinWatermark, NOT plain dropDuplicates: without
        # the event-time column in the key set, plain dropDuplicates keeps
        # every event_id ever seen in the state store forever — unbounded
        # state against a continuous source. The within-watermark variant
        # evicts keys once they age past the watermark, which is the
        # correct production trade (an id replayed later than the
        # watermark delay is emitted again).
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            "user_id",
            "value",
            F.to_date("ts").alias("day"),
        )
    )
    got = run_stream_to_files(
        etl, spark, scratch_path("streaming_ingest"), partition_by="day"
    )

    # Streaming/batch equivalence: the sink must hold exactly the batch
    # answer (events are unique per event_id in the fixture, so dedup is
    # an identity here — the state machinery still runs end to end).
    expect = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id")
    )
    n_sink = got.count()
    n_batch = expect.count()
    assert n_sink == n_batch, (n_sink, n_batch)
    missing = expect.join(got, "event_id", "left_anti").count()
    assert missing == 0, f"{missing} events missing from the sink"

    days = got.select("day").distinct().count()
    summary = {"rows": n_sink, "days": days}
    print(summary)
    return summary


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    main(ap.parse_args().sf_dir)
