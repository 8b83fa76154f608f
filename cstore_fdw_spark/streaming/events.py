"""Structured Streaming over the events table: windowed aggregation with
watermarks, exactly-once dedup, and sessionization — the streaming twins
of :mod:`cstore_fdw_spark.operators.events`.

Each builder takes a *streaming* DataFrame (``spark.readStream``) and
returns a streaming DataFrame; ``run_available_now`` executes one against
the parquet test data with the availableNow trigger (processes everything
then stops — deterministic for tests).

Scale notes: watermarks bound state (late events beyond 1 hour are
dropped); dedup state is keyed by event_id and expires with the watermark;
file-source ingestion uses maxFilesPerTrigger for backpressure on a real
deployment.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cstore_fdw_spark.operators import parquet_schema

WATERMARK = "1 hour"
SESSION_GAP = "30 minutes"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (each file = a micro-batch
    in tests; on a cluster this would be Kafka/files with identical
    downstream logic). Converts the nanos-as-long timestamp like the batch
    reader."""
    # stream-rewrite-guard: exempt — this streams the READ-ONLY testdata
    # fixture parquet directly, not a catalog table: there is no
    # history_floor/created_at that could move under the stream, and no
    # derived state is maintained from it (equality-twin harness only).
    # Streams over CATALOG tables must use the guarded readers
    # (streaming/aggview.source_stream, streaming/projections) — pinned
    # by tests/test_streaming.py::test_every_readstream_guarded_or_exempt.
    # file-source streams need a directory: stream the sf dir with a glob
    # pinned to the events file
    stream = (spark.readStream.schema(
        parquet_schema(spark, f"{sf_dir}/events.parquet"))
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir))
    if dict(stream.dtypes)["ts"] == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return stream


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Watermarked tumbling 1-hour counts per event type (late data beyond
    the watermark dropped — bounded state)."""
    return (events.withWatermark("ts", WATERMARK)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("hour_start"), "event_type", "n"))


def dedup_events(events: DataFrame) -> DataFrame:
    """Exactly-once repair: dropDuplicates keyed on event_id with
    watermark-bounded state."""
    return events.withWatermark("ts", WATERMARK).dropDuplicates(["event_id"])


def sessionize(events: DataFrame) -> DataFrame:
    """Session windows per user with a 30-minute inactivity gap."""
    return (events.withWatermark("ts", WATERMARK)
            .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", F.col("w.start").alias("session_start"),
                    "n_events"))


def run_available_now(spark: SparkSession, sf_dir: str, builder,
                      query_name: str, output_mode: str = "complete") -> DataFrame:
    """Execute a streaming builder with Trigger.AvailableNow into an
    in-memory sink, wait for completion, return the result as a batch
    DataFrame.

    ``output_mode``: 'complete' for aggregations (append mode would
    withhold windows the final watermark never passes), 'append' for
    row-wise operators like dedup.
    """
    stream = read_events_stream(spark, sf_dir)
    out = builder(stream)
    with tempfile.TemporaryDirectory() as ckpt:
        q = (out.writeStream.format("memory").queryName(query_name)
             .outputMode(output_mode)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
    return spark.table(query_name)


def enrich_with_customer(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join: every micro-batch hash-joins against the static
    customer dimension (broadcast — no state, the dimension is re-resolved
    per batch so slowly-changing dims pick up updates), then a watermarked
    windowed aggregation per segment. The streaming twin of
    ``events_enrich_segment``."""
    dim = customer.select(F.col("c_custkey").alias("user_id"),
                          "c_mktsegment")
    return (events.withWatermark("ts", WATERMARK)
            .join(F.broadcast(dim), "user_id")
            .groupBy(F.window("ts", "1 hour").alias("w"),
                     F.col("c_mktsegment").alias("segment"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("hour_start"), "segment", "n"))


def click_purchase_interval_join(clicks: DataFrame,
                                 purchases: DataFrame) -> DataFrame:
    """Stream-stream inner join (the canonical Structured Streaming
    two-stream operator): clicks ⋈ purchases on user within a 30-minute
    event-time interval. BOTH sides carry watermarks and the join
    condition bounds event time in both directions, so the engine can
    expire buffered rows — without the interval bound, stream-stream join
    state grows forever. The streaming twin of the batch
    ``events_click_purchase_interval_join`` (proven equal in
    tests/test_streaming.py)."""
    c = (clicks.filter(F.col("event_type") == "click")
         .select(F.col("event_id").alias("click_id"), "user_id",
                 F.col("ts").alias("click_ts"))
         .withWatermark("click_ts", WATERMARK))
    p = (purchases.filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("purchase_id"),
                 F.col("user_id").alias("p_user"),
                 F.col("ts").alias("purchase_ts"))
         .withWatermark("purchase_ts", WATERMARK))
    return (c.join(p, (F.col("p_user") == F.col("user_id"))
                   & (F.col("purchase_ts") > F.col("click_ts"))
                   & (F.col("purchase_ts") <= F.col("click_ts")
                      + F.expr("INTERVAL 30 MINUTE")))
            .select("click_id", "purchase_id", "user_id",
                    (F.unix_micros("purchase_ts")
                     - F.unix_micros("click_ts")).alias("micros_between")))
