"""Structured Streaming extension (SURVEY §2.9).

The reference is a pure batch system; the streaming surface extends the
engine for continuous ingest (the `events` table shape: event_id, ts,
user_id, event_type, value, props). Design:

- file/kafka source -> watermarked event-time ops -> sink
- tumbling-window aggregation with late-data handling (watermark)
- watermarked streaming dedup on event_id
- KGX merge-upsert as a foreachBatch that reuses the batch property-merge
  aggregate (A3) — the streaming analogue of the reference's incremental
  source re-merge.

All operators use event-time (ts), never processing time, so replays and
backfills are deterministic — the property that makes a 100 TB
stream-backfill produce the same bundle as a batch build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def read_event_stream(
    spark: SparkSession, path: str, fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(EVENTS_SCHEMA).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window counts + value sums per event_type with late-data
    tolerance = watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def deduped_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once-per-event_id within the watermark horizon: Spark keeps
    the id state only for the watermark window, so state is bounded — the
    streaming analogue of first-write-wins dedup (A1,
    orion/kgx_file_writer.py:64-69)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def event_edges(events: DataFrame) -> DataFrame:
    """Map the event stream to KGX edge rows (user --(event_type)--> event),
    the continuous-ingest entry into the graph pipeline."""
    return events.select(
        F.concat(F.lit("USER:"), F.col("user_id")).alias("subject"),
        F.concat(F.lit("biolink:"), F.col("event_type")).alias("predicate"),
        F.concat(F.lit("EVENT:"), F.col("event_id")).alias("object"),
        F.lit("infores:event-stream").alias("primary_knowledge_source"),
        F.col("ts"),
        F.col("value"),
    )


def merge_upsert_sink_incremental(bundle_path: str, n_shards: int = 64):
    """foreachBatch sink over a hash-sharded bundle
    (sinks/incremental.py): each micro-batch rewrites only the shard
    partitions its subjects touch — O(delta), not O(bundle), per batch,
    through the crash-atomic staged-swap commit. The first batch
    bootstraps the sharded layout."""
    import os

    from orion_spark.sinks.incremental import (
        upsert_sharded_edges,
        write_sharded_bundle,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        from orion_spark.operators.merge import merge_edges

        spark = batch_df.sparkSession
        delta = batch_df.drop("ts")
        if not os.path.isdir(bundle_path):
            write_sharded_bundle(
                merge_edges(delta), bundle_path, ["subject"], n_shards
            )
            return
        upsert_sharded_edges(spark, delta, bundle_path, n_shards=n_shards)

    return _process


def run_windowed_counts_to_memory(
    spark: SparkSession, source_path: str, table_name: str = "windowed_counts",
) -> None:
    """Test/demo driver: availableNow trigger, memory sink, processes the
    whole backlog then stops (deterministic for tests)."""
    stream = read_event_stream(spark, source_path)
    q = (
        windowed_counts(stream)
        .writeStream.format("memory")
        .queryName(table_name)
        # complete mode: emit every window each trigger (append would hold
        # windows open until the watermark passes them — correct for
        # production sinks, but a single availableNow batch never closes)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def enrich_with_dimension(
    events: DataFrame,
    dimension: DataFrame,
    on_left: str = "user_id",
    on_right: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """Stream-static dimension join: each micro-batch of the stream is
    joined against the (batch) dimension table — Spark re-plans the static
    side per batch, so a dimension refresh between triggers is picked up
    without restarting the query. The static side is broadcast: the
    streaming side never shuffles, which keeps the stateless join safe
    under any event rate (no state store at all, unlike stream-stream
    joins)."""
    return events.join(
        F.broadcast(dimension), events[on_left] == dimension[on_right], how
    ).drop(dimension[on_right])


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_watermark: str = "1 hour",
    right_watermark: str = "1 hour",
    within: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair each left event with
    right events for the same key that happened within `within` AFTER it
    (click -> follow-up purchase attribution). Both sides carry
    watermarks and the join condition bounds the time range in BOTH
    directions, so Spark can size the state store finitely and evict
    rows as watermarks advance — the unbounded-state trap is a
    range-unconstrained stream-stream join."""
    l = left.select(
        F.col(key).alias("l_key"), F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
        F.col("event_type").alias("l_type"),
    ).withWatermark("l_ts", left_watermark)
    r = right.select(
        F.col(key).alias("r_key"), F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
        F.col("event_type").alias("r_type"),
    ).withWatermark("r_ts", right_watermark)
    return l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
    )


def session_window_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Watermarked session-window aggregation over the event stream — the
    built-in stateful sessionization operator (merging session state per
    user, sessions close when the watermark passes last-event + gap).
    Batch shape of the identical expression is oracle-checked as
    `events_session_window_builtin`; this is the streaming shape with
    bounded state: expired sessions are emitted and dropped, so state is
    O(open sessions), not O(history)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
