"""Structured Streaming slice (SURVEY.md §2.9).

The reference has no streaming — its incremental analog is the
work-queue flag (main.py:27, FlightAnalysis.py:32) polled by a
consumer pool. Here the same segmentation semantics run as real
streams over the events table:

  * windowed_counts     tumbling/sliding event-time windows with a
                        watermark (late data bounded, state evicted).
  * session_aggregates  F.session_window gap-sessions — the streaming
                        twin of operators.windows.sessionize (same
                        gap semantics, engine-managed state).
  * dedup_stream        watermarked dropDuplicates (exactly-once-ish
                        event dedup by id).

All take any streaming DataFrame so tests can feed them from a
file/rate/memory source; read_events_stream builds the parquet-dir
source with the testdata's nanos-timestamp quirk handled.

Scale notes: state is keyed by (user, window) and evicted at the
watermark — constant memory per key; shuffle partitioning is the
same (key, window) hash as batch, so a 1000-executor cluster scales
linearly with key cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import SHUFFLE_PARTITIONS, scoped_conf
from ..sources.tables import normalize_event_time


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming source over a directory of events parquet files.

    The stream schema is derived from a batch read of the same
    directory (one driver-side footer read — no data scan), then the
    ts column goes through the same normalize_event_time choke point
    as the batch path, so whatever the parquet logical type
    (TIMESTAMP(NANOS)-as-bigint, TIMESTAMP_NTZ, TIMESTAMP) the
    stream sees one UTC TIMESTAMP column — a hard-coded schema here
    silently mis-decoded micros as nanos when the writer changed."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch_schema = spark.read.parquet(events_dir).schema
    df = spark.readStream.schema(batch_schema).parquet(events_dir)
    return normalize_event_time(df)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling (or sliding, if slide given) watermarked window counts
    per event_type — the streaming twin of events_tumbling_window."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            # integer cents, not round(float sum): micro-batch
            # accumulation order must never flip a .005 rounding
            # boundary vs the batch twin (relational.py cents doctrine)
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("__c"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            (F.col("__c") / 100.0).alias("sum_value"),
        )
    )


def session_aggregates(
    events: DataFrame,
    gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based session windows per user (session_window — the
    engine-stateful form of the batch lag+cumsum sessionization,
    W2's streaming twin)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("__c"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            (F.col("__c") / 100.0).alias("sum_value"),
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exact dedup by event_id with WATERMARK-EVICTED state:
    dropDuplicatesWithinWatermark keeps an id in state only for the
    watermark delay after first sight. Plain dropDuplicates([id])
    would never clean state (the event-time column is not in the
    subset), growing without bound on a continuous stream."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_memory(
    df: DataFrame,
    query_name: str,
    mode: str = "append",
    shuffle_partitions: int | None = None,
):
    """Execute a streaming plan to completion on the available data
    (availableNow trigger) into an in-memory table; returns the
    finished StreamingQuery. Test/debug harness.

    ``shuffle_partitions`` pins the stateful-operator partition count
    for THIS query (set around start, restored after termination —
    the count is latched into the query's state layout at its first
    micro-batch). One RocksDB state-store instance spins up per
    partition per stateful operator, so the right number is sized to
    state volume (watermark x arrival rate) per executor — NOT the
    batch shuffle default: 32 instances for a 60k-row local run is
    pure setup overhead (measured: the interval join drops 6.4 s ->
    2.5 s at 8 partitions, identical output). Results are
    partition-count invariant (append-mode emission is row-local;
    the determinism sweep covers these queries).

    The pin is a session-conf change around start (session.scoped_conf:
    Spark offers no per-stream override); see scoped_conf for what
    concurrent plan builders may and may not rely on. The catalog's
    streaming queries all start their streams serially."""
    spark = df.sparkSession
    pin = {}
    if shuffle_partitions is not None:
        pin[SHUFFLE_PARTITIONS] = str(shuffle_partitions)
    with scoped_conf(spark, pin):
        q = (
            df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


def stream_stream_click_purchase(
    events: DataFrame,
    watermark: str = "2 hours",
    lookback: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time interval condition:
    each purchase joined to the same user's clicks from the trailing
    ``lookback`` window — the streaming twin of the batch as-of join
    (asof_click_before_purchase), relaxed to all-matches-in-range
    (streaming state can't hold an unbounded "latest ever" without a
    custom stateful op; the interval bound is what lets Spark evict
    join state at the watermark).

    ``how="left_outer"``: purchases with NO click in range still
    emit, with NULL click_ts — but only once the WATERMARK has passed
    the purchase's whole join window, because until then a matching
    click could still arrive. Consequence every caller must know: the
    null-augmented rows trail the inner rows by up to
    watermark + lookback of event time, and purchases closer than
    that to the end of a finite run stay withheld in state when the
    query stops (tests/test_streaming asserts exactly this eviction
    frontier). Inner rows are emitted eagerly and identically in both
    modes.

    Scale: state per side is bounded by watermark x arrival rate,
    keyed/shuffled on user_id; the interval predicate prunes state by
    event time, so skewed users bound memory by time, not history.
    At 100x session counts move the state store to RocksDB
    (use_rocksdb_state) — heap objects per state row otherwise become
    the executor memory ceiling.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be inner or left_outer, got {how!r}")
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .withWatermark("ts", watermark)
    )
    return purchases.join(
        clicks,
        (purchases.user_id == clicks.c_user_id)
        & (clicks.click_ts >= purchases.ts - F.expr(f"INTERVAL {lookback}"))
        & (clicks.click_ts < purchases.ts),
        how,
    ).select("event_id", "user_id", "ts", "click_ts")


def use_rocksdb_state(spark: SparkSession) -> None:
    """Switch stateful streaming to the RocksDB state store provider
    (takes effect for queries STARTED after the call; running queries
    keep their provider).

    Why: the default HDFSBackedStateStoreProvider keeps every state
    row as JVM heap objects — fine for thousands of sessions, but at
    100x session/join-state counts (the 100 TB deployment: millions
    of live sessions x multi-hour watermarks) heap state becomes the
    executor memory ceiling and GC pause driver. RocksDB keeps state
    off-heap with incremental checkpointing; changelog checkpointing
    ships per-batch deltas instead of full SST uploads, bounding
    commit latency as state grows. The rocksdbjni native library
    ships in Spark's jars, so this is config-only."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing"
        ".enabled",
        "true",
    )
