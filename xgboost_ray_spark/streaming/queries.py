"""Registry entries for the streaming surface (S25).

The oracle is the BATCH answer: a complete-mode streaming aggregation over
a finite replay must equal the equivalent batch GROUP BY — the
batch-equivalence pattern the reference's parity tests use for training
(distributed == single-node, tests/test_end_to_end.py:162-211), transposed
to streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from xgboost_ray_spark.operators.profile import OUTLIER_FLAGS_SQL
from xgboost_ray_spark.registry import dsum, register, sql_dsum
from xgboost_ray_spark.streaming.windows import (
    read_events_stream,
    read_table_stream,
    run_stream_to_memory,
    stream_state_partitions,
    windowed_counts,
)


@register(
    "s25_stream_tumbling",
    oracle=f"""
    SELECT
      DATE_TRUNC('hour', ts) AS wstart,
      event_type,
      COUNT(*) AS n,
      {sql_dsum("value", "sum_value")}
    FROM events
    GROUP BY 1, 2
    """,
    doc="Structured Streaming tumbling 1-hour window over the events "
        "replay, complete mode -> memory sink; equals the batch answer "
        "(s24) exactly.",
    tags=("streaming",),
)
def s25_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = windowed_counts(read_events_stream(spark, sf_dir), "1 hour")
    return run_stream_to_memory(agg, spark)


@register(
    "s25b_stream_sliding",
    oracle=f"""
    WITH offs AS (SELECT unnest([0, 30]) AS off_min), win AS (
      SELECT
        DATE_TRUNC('hour', ts - to_minutes(off_min)) + to_minutes(off_min) AS wstart,
        event_type, value
      FROM events, offs
    )
    SELECT wstart, event_type, COUNT(*) AS n, {sql_dsum("value", "sum_value")}
    FROM win
    GROUP BY 1, 2
    """,
    doc="Sliding window (1 hour every 30 min): each event lands in 2 "
        "overlapping windows; oracle expands the two slide offsets.",
    tags=("streaming",),
)
def s25b_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = windowed_counts(
        read_events_stream(spark, sf_dir), "1 hour", slide="30 minutes"
    )
    return run_stream_to_memory(agg, spark)


@register(
    "s25c_stream_watermark_append",
    oracle=None,  # append-mode emission depends on watermark progress; rows-only
    doc="Append-mode tumbling window WITH a 10-minute watermark: the "
        "production late-data configuration. Finalized windows (window end "
        "<= max event time - delay) are emitted; the tail window stays in "
        "state — hence no exact batch oracle.",
    tags=("streaming",),
)
def s25c_stream_watermark_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = windowed_counts(
        read_events_stream(spark, sf_dir), "1 hour", watermark="10 minutes"
    )
    return run_stream_to_memory(agg, spark, output_mode="append")


@register(
    "s25e_stream_dedup",
    oracle="SELECT DISTINCT md5(text) AS text_hash FROM documents",
    doc="Streaming exact dedup: dropDuplicates on the content digest over "
        "the documents replay, append mode — each distinct document emits "
        "once, state holds only 32-byte digests. The streaming twin of "
        "s26. NOTE at production scale: plain dropDuplicates keeps every "
        "key forever (a watermark only evicts dedup state when the "
        "event-time column is part of the key set) — an unbounded source "
        "needs dropDuplicatesWithinWatermark, which trades exactness for "
        "bounded state; exact global dedup over all history is the batch "
        "job (s26), not a stream.",
    tags=("streaming", "dedup"),
)
def s25e_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    stream = read_table_stream(spark, sf_dir, "documents")
    deduped = stream.select(F.md5("text").alias("text_hash")).dropDuplicates(
        ["text_hash"]
    )
    return run_stream_to_memory(deduped, spark, output_mode="append")


@register(
    "s25f_stream_static_join",
    oracle=f"""
    SELECT
      DATE_TRUNC('hour', e.ts) AS wstart,
      n.n_name,
      COUNT(*) AS n,
      {sql_dsum("e.value", "sum_value")}
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    """,
    doc="Stream-static join: the events replay joined to the static "
        "customer->nation dimension (broadcast — no stream-side shuffle), "
        "then a tumbling 1-hour window per nation, complete mode. The "
        "standard streaming-enrichment topology; equals the batch join "
        "exactly.",
    tags=("streaming", "join"),
)
def s25f_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from xgboost_ray_spark.catalog import load_table

    events = read_events_stream(spark, sf_dir)
    dim = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )
    enriched = events.join(
        F.broadcast(dim), events.user_id == dim.c_custkey, "inner"
    )
    agg = (
        enriched.groupBy(F.window("ts", "1 hour").alias("w"), "n_name")
        .agg(
            F.count("*").alias("n"),
            # registry.dsum: the ONE spelling of the exact-decimal money
            # sum, so a precision policy change cannot fork this entry.
            dsum(F.col("value"), "sum_value"),
        )
        .select(F.col("w.start").alias("wstart"), "n_name", "n", "sum_value")
    )
    return run_stream_to_memory(agg, spark)


@register(
    "s25d_stateful_sessions",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts, event_id, value,
        CASE
          WHEN LAG(ts) OVER w IS NULL
            OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 30 * 60 * 1000000
          THEN 1 ELSE 0
        END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, SUM(is_new) OVER (
        PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
      ) AS sid
      FROM gaps
    ), agg AS (
      SELECT user_id, sid,
             MIN(ts) AS session_start,
             MAX(ts) AS session_end,
             COUNT(*) AS n_events,
             {sql_dsum("value", "sum_value")}
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events, sum_value
    FROM agg
    WHERE sid < (SELECT MAX(a2.sid) FROM agg a2 WHERE a2.user_id = agg.user_id)
       -- plus open sessions closed by the event-time timeout: after the
       -- single data batch, watermark = floor(max_ts/1ms) - 10min, and the
       -- no-data batch fires timeouts with timeout_ms < watermark_ms
       OR FLOOR((epoch_us(session_end) + 30 * 60 * 1000000) / 1000)
          < (SELECT FLOOR(MAX(epoch_us(ts)) / 1000) - 600000 FROM events)
    """,
    doc="Custom stateful operator: applyInPandasWithState gap sessionization "
        "(30-min inactivity, event-time timeout, append mode). The one-file "
        "replay arrives as a single microbatch, so the emitted set is exactly "
        "'every closed session, plus open sessions whose event-time timeout "
        "fires under the final watermark' — giving the stateful path an "
        "exact SQL oracle.",
    tags=("streaming", "stateful"),
)
def s25d_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xgboost_ray_spark.streaming.stateful import sessionize_stream

    sessions = sessionize_stream(read_events_stream(spark, sf_dir))
    return run_stream_to_memory(sessions, spark, output_mode="append")


@register(
    "s25g_stream_stream_join",
    oracle="""
    WITH e AS (SELECT * FROM events)
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id
    FROM e v JOIN e p
      ON v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.user_id = v.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
    doc="Watermarked stream-stream inner join: each purchase matches the "
        "same user's views from the preceding 30 minutes. Both sides carry "
        "a 1-hour watermark and the join has an event-time bound, so state "
        "for either side is dropped once the other stream's watermark "
        "passes it — the production attribution-join configuration with "
        "bounded state. A finite replay emits exactly the batch join.",
    tags=("streaming", "join"),
)
def s25g_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select("view_id", "purchase_id", "user_id")
    return run_stream_to_memory(joined, spark, output_mode="append")


@register(
    "s25h_file_sink_etl",
    oracle="""
    SELECT event_id, user_id, value, CAST(ts AS DATE) AS day
    FROM events
    WHERE event_type = 'purchase'
    """,
    doc="Streaming ETL to a real sink: the events replay filtered to "
        "purchases, date-derived, written to a date-partitioned parquet "
        "file sink under Trigger.AvailableNow with a checkpoint — the "
        "production ingest topology (memory sinks are harness-only). The "
        "sink manifest + checkpoint give exactly-once across restarts; "
        "the date partitioning means downstream daily jobs prune to one "
        "directory. Entry returns the read-back output, so the oracle "
        "checks the full write-read round trip.",
    tags=("streaming", "etl"),
)
def s25h_file_sink_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from xgboost_ray_spark.catalog import scratch_path
    from xgboost_ray_spark.streaming.windows import run_stream_to_files

    etl = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "value",
            F.to_date("ts").alias("day"),
        )
    )
    got = run_stream_to_files(
        etl, spark, scratch_path("events_etl"), partition_by="day"
    )
    return got.select("event_id", "user_id", "value", "day")


def latest_per_key(df: DataFrame) -> DataFrame:
    """(user_id, latest row) — struct max orders by (ts, event_id, ...);
    event_id is unique, so the reduction is total-order deterministic."""
    from pyspark.sql import functions as F

    return (
        df.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type", "value")).alias("s"))
        .select("user_id", "s.ts", "s.event_id", "s.event_type", "s.value")
    )


def snapshot_merge_sink(snaps: str):
    """Disk-recovering versioned-snapshot MERGE sink for ``foreachBatch``.

    Returns ``(merge, committed_versions)``. ``merge(batch, batch_id)``
    reduces the batch per key, unions it with the newest COMMITTED
    snapshot below ``batch_id`` recovered from DISK (never driver
    memory, never its own possibly-partial output), and overwrites
    ``snaps/v{batch_id}``. A post-crash checkpoint replay of the same
    batch therefore merges against the same base and rewrites the same
    dir — idempotent, exactly-once across restarts. Dirs without
    ``_SUCCESS`` (a crash mid-write) are skipped by recovery.
    """
    import os

    def committed_versions() -> list[int]:
        out = []
        for d in os.listdir(snaps):
            if (
                d.startswith("v")
                and d[1:].isdigit()
                and os.path.exists(os.path.join(snaps, d, "_SUCCESS"))
            ):
                out.append(int(d[1:]))
        return sorted(out)

    def merge(batch: DataFrame, batch_id: int) -> None:
        upd = latest_per_key(batch)
        prior_vs = [v for v in committed_versions() if v < batch_id]
        if prior_vs:
            prior = batch.sparkSession.read.parquet(
                os.path.join(snaps, f"v{prior_vs[-1]}")
            )
            upd = latest_per_key(prior.unionByName(upd))
        upd.write.mode("overwrite").parquet(os.path.join(snaps, f"v{batch_id}"))

    return merge, committed_versions



@register(
    "s25i_stream_cdc_upsert",
    oracle="""
    SELECT user_id,
           event_type AS last_type,
           value AS last_value,
           epoch_us(ts) AS last_ts_us
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
    doc="Streaming CDC upsert: the events replay is split into four "
        "source files consumed one per microbatch (maxFilesPerTrigger=1), "
        "and a foreachBatch merge maintains a latest-row-per-user "
        "snapshot across batches — each batch reduces to its per-key max "
        "(ts, event_id) struct, unions with the prior snapshot "
        "(recovered from disk — the newest committed version below the "
        "current batchId, so a post-crash replay merges against the "
        "right base), and re-reduces, writing a batchId-versioned "
        "snapshot dir so a replayed batch overwrites its own output "
        "(idempotent, exactly-once with the checkpoint). "
        "The keyed-merge shape is "
        "MERGE INTO without a table format; at 100 TB the snapshot "
        "would be bucketed by user_id so each microbatch shuffles only "
        "the delta. Oracle: last event per user over the whole table.",
    tags=("streaming", "cdc"),
)
def s25i_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import functions as F

    from xgboost_ray_spark.catalog import load_table, scratch_path

    root = scratch_path("cdc_upsert")
    src = os.path.join(root, "src")
    chk = os.path.join(root, "chk")
    snaps = os.path.join(root, "snaps")
    os.makedirs(snaps)

    cols = ["user_id", "ts", "event_id", "event_type", "value"]
    # Four source files -> four microbatches: the merge provably carries
    # state across batch boundaries instead of reducing one big batch.
    load_table(spark, sf_dir, "events").select(*cols).repartition(
        4
    ).write.parquet(src)

    merge, committed_versions = snapshot_merge_sink(snaps)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    with stream_state_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(merge)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    versions = committed_versions()
    if not versions:
        raise RuntimeError(
            "snapshot sink produced no committed version — the stream ran "
            "zero microbatches (empty source dir?) or every snapshot dir "
            "lost its _SUCCESS marker (crashed mid-commit)"
        )
    latest = versions[-1]
    final = spark.read.parquet(os.path.join(snaps, f"v{latest}"))
    return final.select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
        F.unix_micros("ts").alias("last_ts_us"),
    )


@register(
    "s25j_stream_trending",
    oracle="""
    SELECT wstart, event_type, n, CAST(rk AS INT) AS rk
    FROM (
      SELECT wstart, event_type, n,
             ROW_NUMBER() OVER (
               PARTITION BY wstart ORDER BY n DESC, event_type
             ) AS rk
      FROM (
        SELECT DATE_TRUNC('hour', ts) AS wstart,
               event_type,
               COUNT(*) AS n
        FROM events
        GROUP BY 1, 2
      )
    )
    WHERE rk <= 3
    """,
    doc="Trending dashboard topology: the stream maintains per-window "
        "per-type counts in the state store (complete mode -> sink), and "
        "the serving layer ranks the top-3 types per window over the "
        "sink — ranking stays OUT of the stream, where it would force "
        "whole-window state rewrites every microbatch; the sink holds at "
        "most windows x types rows, so the serve-side rank is trivially "
        "cheap at any event volume. Deterministic tiebreak on event_type "
        "keeps the cut hash-stable.",
    tags=("streaming", "topk"),
)
def s25j_stream_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    agg = (
        read_events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n")
    )
    sink = run_stream_to_memory(agg, spark)
    rk = F.row_number().over(
        W.partitionBy("wstart").orderBy(F.desc("n"), "event_type")
    )
    return (
        sink.withColumn("rk", rk.cast("int"))
        .filter(F.col("rk") <= 3)
        .select("wstart", "event_type", "n", "rk")
    )


@register(
    "s25k_stream_session_window",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
        CASE
          WHEN LAG(ts) OVER w IS NULL
            OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 30 * 60 * 1000000
          THEN 1 ELSE 0
        END AS is_new, value, event_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, SUM(is_new) OVER (
        PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
      ) AS sid
      FROM gaps
    ), agg AS (
      SELECT user_id,
             MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             COUNT(*) AS n_events
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events
    FROM agg
    -- '<=': Spark append mode emits a session whose close boundary
    -- EQUALS the final watermark (verified empirically with a
    -- boundary-aligned replay); strict '<' would drop that row.
    WHERE FLOOR(epoch_us(session_end) / 1000)
          <= (SELECT FLOOR(MAX(epoch_us(ts)) / 1000) - 600000 FROM events)
    """,
    doc="Built-in session_window streaming sessionization (30-min gap, "
        "10-min watermark, append mode): the DECLARATIVE path for "
        "gap-only session semantics — Spark merges session state "
        "internally, no user state function. Append emits exactly the "
        "sessions whose close boundary (last event + gap) falls under "
        "the final watermark, giving an exact SQL oracle on a one-batch "
        "replay. Use s25d's applyInPandasWithState when per-session "
        "custom logic (running aggregates with business rules, emission "
        "side outputs) outgrows the built-in; use this when it doesn't — "
        "the state layout is engine-managed and RocksDB-spillable.",
    tags=("streaming", "stateful"),
)
def s25k_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
    return run_stream_to_memory(agg, spark, output_mode="append")


@register(
    "s25l_stream_outlier_guard",
    # The batch entry's oracle, verbatim: the guard broadcasts stats
    # computed over the full static table and the stream replays that
    # same table, so the flagged set must match s32d row-for-row.
    oracle=OUTLIER_FLAGS_SQL,
    doc="Streaming training-serving guard: the event stream is scored "
        "against BROADCAST per-group (n, S1, S2) statistics — the "
        "exact integer 3-sigma predicate of s32d, spelled as the "
        "100 TB deployment would run it in production (stats computed "
        "at training time, streamed events flagged per-row with no "
        "stream-side shuffle or state). Same oracle as the batch "
        "window spelling: two topologies, one truth.",
    tags=("streaming", "quality"),
)
def s25l_stream_outlier_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from xgboost_ray_spark.catalog import load_table
    from xgboost_ray_spark.operators.profile import outlier_flag

    DEC38 = "decimal(38,0)"
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    static = load_table(spark, sf_dir, "events").select(
        "event_type", cents.alias("v")
    )
    stats = static.groupBy("event_type").agg(
        # count(v), not count(*): s1/s2 skip NULLs, and the batch kernel
        # + shared oracle count non-null values only (profile.py) — a
        # count(*) n would compute wrong stats for any null-bearing group.
        F.count("v").alias("n"),
        F.sum("v").cast(DEC38).alias("s1"),
        F.sum(F.col("v").cast(DEC38) * F.col("v").cast(DEC38)).alias("s2"),
    )
    stream = read_events_stream(spark, sf_dir).select(
        "event_id", "event_type", "value", cents.alias("v")
    )
    flagged = (
        stream.join(F.broadcast(stats), "event_type")
        .filter(outlier_flag("n", "s1", "s2", "v"))
        .select("event_id", "event_type", "value")
    )
    # per-row map with no aggregation: append mode (complete requires agg)
    return run_stream_to_memory(flagged, spark, output_mode="append")

