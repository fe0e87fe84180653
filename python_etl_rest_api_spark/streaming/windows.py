"""Structured Streaming operators over the events stream.

Design rule: every streaming aggregation is a plain DataFrame->DataFrame
transform applied identically to a batch frame (oracle-checkable, used by
the catalog) and to a readStream frame (watermarked, incremental). The
transform IS the operator; batch/stream is a property of the source.

The reference has no streaming surface (SURVEY.md section 2.K) - these are
the extension operators for the events table, plus a streaming First100
built on the same state-table idea as operators/first100.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import with_event_ts


def tumbling_agg(events: DataFrame, bucket: str = "hour") -> DataFrame:
    """Tumbling-window counts + exact value sums per event_type.

    Batch form uses date_trunc (portable to the DuckDB oracle). The
    streaming form (tumbling_agg_stream) swaps in F.window + watermark -
    same grouping semantics, epoch-aligned buckets.

    The value sum runs in exact integer cents with limb-pair
    accumulators (functions/intmoney, r13 — the same conversion as the
    flagship view): the decimal form paid a BigDecimal allocation per
    row in the double->decimal cast. Value-identical for the 2-decimal
    value column (same nearest integer; the final double is the
    correctly-rounded cents/100 either way); measured at the 100x
    point (same-session interleaved A/B): 1.36 -> 0.75 s min,
    bit-identical on all windows."""
    from ..functions import intmoney
    return (events
            .select(F.date_trunc(bucket, F.col("ts")).alias("window_start"),
                    F.col("event_type"),
                    intmoney.cents("value").alias("_v_c"))
            .groupBy("window_start", "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 intmoney.limb_sum_double("_v_c", 100.0)
                 .alias("total_value")))


def tumbling_agg_stream(events: DataFrame, window: str = "1 hour",
                        watermark: str = "2 hours") -> DataFrame:
    """Streaming twin: watermarked tumbling window. Late rows beyond the
    watermark are dropped; state is bounded by (watermark / window) keys
    per event_type.

    The value sum shares the batch form's cents()+limb projection
    (r14, ADVICE r13 #2 — the module's design rule says the transform
    IS the operator, and the decimal sum this replaced paid the same
    per-row BigDecimal cost the batch conversion removed). The limb
    partials are plain long SUMs, so incremental state updates merge
    exactly like the batch partial aggregation; value-identical per the
    intmoney argument (same nearest-integer cents, final double the
    correctly-rounded cents/100)."""
    from ..functions import intmoney
    return (events
            .withWatermark("ts", watermark)
            .select("ts", "event_type",
                    intmoney.cents("value").alias("_v_c"))
            .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 intmoney.limb_sum_double("_v_c", 100.0)
                 .alias("total_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "total_value"))


def sliding_agg_stream(events: DataFrame, window: str = "1 hour",
                       slide: str = "15 minutes",
                       watermark: str = "2 hours") -> DataFrame:
    """Sliding-window event rates (each row lands in window/slide panes)."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window, slide).alias("w"), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n_events"))


def session_agg_stream(events: DataFrame, gap: str = "30 minutes",
                       watermark: str = "2 hours") -> DataFrame:
    """Session windows with an inactivity gap - the streaming twin of the
    catalog's lag/cumsum sessionization (session_window merges panes whose
    events are within `gap` of each other)."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"), "n_events"))


def trending_topk(events: DataFrame, bucket: str = "hour",
                  k: int = 3) -> DataFrame:
    """Trending event types: per tumbling window, the top-k types by
    count with their rank — the live-dashboard query. Rank ties break
    on event_type (deterministic). The window function runs over the
    PRE-AGGREGATED (window, type) counts, never raw events: at 100 TB
    the only big exchange is the map-side-combined count; the rank
    partition is |event_types| rows per hour."""
    from pyspark.sql import Window
    counts = (events
              .groupBy(F.date_trunc(bucket, F.col("ts"))
                       .alias("window_start"),
                       F.col("event_type"))
              .agg(F.count(F.lit(1)).alias("n_events")))
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type"))
    return (counts
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("window_start", "event_type", "n_events",
                    F.col("rk").cast("int").alias("rk")))


def trending_topk_stream(events: DataFrame, window: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Streaming half of the trending pipeline: the watermarked windowed
    counts (the stateful part). Rank is NOT expressible in streaming
    append mode (a window's top-k is only final when the watermark
    closes it) — the finalize runs per emitted window in foreachBatch /
    on the sink table, exactly rank-over-closed-windows (see
    tests/test_streaming.py::test_trending_stream_matches_batch)."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"),
                     F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"),
                    "event_type", "n_events"))


def dedup_ingest_stream(events: DataFrame,
                        keys: list[str] | None = None,
                        watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup at ingest: dropDuplicatesWithinWatermark on
    the event key - the first stage of a streaming training-data pipeline
    (at-least-once sources redeliver; identical events arriving in
    DIFFERENT micro-batches are collapsed by cross-batch state).

    State is bounded by the watermark horizon: keys older than the
    watermark are evicted, so duplicates farther apart than the watermark
    may both survive - the documented contract (exactly-once within the
    horizon, at-least-once beyond it). At 100 TB the state store holds
    only (key, ts) pairs inside the horizon, never the corpus."""
    keys = keys or ["event_id"]
    return (events.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(keys))


def new_users_stream(events: DataFrame,
                     window: str = "1 day",
                     watermark: str = "2 hours") -> DataFrame:
    """Streaming new-user counter (the live twin of the batch
    events_user_growth curve): cross-batch dropDuplicates on user_id
    keeps exactly each user's FIRST delivered event alive, then a
    tumbling event-time window counts first-appearances per period.

    dropDuplicates (NOT the WithinWatermark variant) is deliberate:
    new-user identity must persist forever, not age out with the
    watermark - a user returning after a quiet week is NOT new. The
    state store therefore grows with |distinct users| (bounded by the
    user population, not the event volume) - the documented trade for
    an exact first-seen semantics; swap to
    dropDuplicatesWithinWatermark for an approximate counter with
    bounded state when the id space is unbounded."""
    firsts = (events.withWatermark("ts", watermark)
              .dropDuplicates(["user_id"]))
    return (firsts.groupBy(F.window("ts", window).alias("w"))
            .agg(F.count(F.lit(1)).alias("new_users"))
            .select(F.col("w.start").alias("window_start"), "new_users"))


def run_stream_on_batch(spark: SparkSession, events_path: str,
                        transform, out_path: str,
                        output_mode: str = "append") -> None:
    """Execute a streaming transform over a bounded parquet source using
    availableNow (test/backfill harness: stream semantics, batch data).
    ``ts`` gets the batch-side _events dtype dispatch (with_event_ts)."""
    import os
    import tempfile

    if os.path.isfile(events_path):
        # the file-stream source requires a directory; shim single files
        d = tempfile.mkdtemp(prefix="stream_src_")
        os.symlink(os.path.abspath(events_path),
                   os.path.join(d, os.path.basename(events_path)))
        events_path = d
    schema = spark.read.parquet(events_path).schema
    stream = with_event_ts(spark.readStream.schema(schema)
                           .option("maxFilesPerTrigger", 1)
                           .parquet(events_path))
    writer = transform(stream).writeStream \
        .option("checkpointLocation", out_path + "_chk") \
        .outputMode(output_mode) \
        .trigger(availableNow=True)
    if output_mode == "append":
        q = writer.format("parquet").option("path", out_path).start()
    else:
        # the file sink is append-only; update/complete modes (stateful
        # ops) land each micro-batch via foreachBatch
        q = writer.foreachBatch(
            lambda batch_df, _id: batch_df.write.mode("append")
            .parquet(out_path)).start()
    q.awaitTermination()
