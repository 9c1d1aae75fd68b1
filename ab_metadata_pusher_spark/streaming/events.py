"""Structured Streaming operators over the events table (SURVEY.md §2.G
streaming gap; §2.F F5 — the cron cadence replaced by triggers).

The reference has no streaming: cron re-runs a batch job every tick
(crontab:1, shell/bootstrap.sh:22).  The Spark-native replacement is a
resident (or ``Trigger.AvailableNow`` per-tick) streaming query:

* ``events_stream`` — file-source stream of the events fixture (the same
  nanos-timestamp conversion as the batch loader);
* tumbling / sliding / session windows with watermarks;
* ``dropDuplicatesWithinWatermark`` for bounded-state dedup;
* ``foreach_batch_publish`` — micro-batch -> chunked SQS envelopes, the
  streaming version of the metadata push.

Every operator returns the *streaming* DataFrame; ``run_to_memory``
executes it with ``availableNow`` into a memory sink and returns the
result table — how the driver's batch-shaped correctness gate (and any
cron-replacement tick) consumes a stream.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "events_stream", "run_to_memory", "tumbling_counts", "sliding_counts",
    "session_windows", "dedup_within_watermark", "foreach_batch_publish",
    "idempotent_foreach_batch",
    "stateful_user_stats", "stateful_user_stats_tws",
    "stream_static_join_segments",
    "stream_stream_purchase_clicks",
    "documents_stream", "stream_ingest_dedup",
]


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents fixture as a file-source stream — the arriving-corpus
    side of streaming ingest operators."""
    raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return (spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir))


def stream_ingest_dedup(docs: DataFrame,
                        existing_digests: DataFrame) -> DataFrame:
    """Streaming ingest dedup: anti-join each arriving micro-batch against
    the static digest set of the already-ingested corpus — only novel
    content flows downstream.

    Stream-static left-anti joins are stateless (the static side is
    re-broadcast per micro-batch), so this scales with batch size, not
    corpus history; the digest set itself is the compact (16-byte keyed)
    representation of everything ingested so far.
    """
    hashed = docs.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("content_md5"))
    return hashed.join(existing_digests, "content_md5", "left_anti")


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture as a file-source stream.

    Schema comes from the batch loader (one footer read); the TIMESTAMP
    (NANOS) column arrives as long (session conf) and is converted exactly
    like the batch path, so batch SQL is a valid oracle for every
    streaming query.
    """
    # Same conf pinning as sources/fixtures.load_table (the session may be
    # the driver's own): UTC + nanos-as-long, both runtime-settable.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # File streams require a *directory* source; glob-filter the one table
    # out of the read-only fixture dir.
    sdf = (spark.readStream.schema(raw_schema)
           .option("pathGlobFilter", "events.parquet")
           .parquet(sf_dir))
    # Watermarks require TIMESTAMP (not NTZ) — unlike the batch loader's
    # NTZ conversion; with the session pinned to UTC the wall-clock values
    # match the batch path exactly (every output casts back to NTZ).
    # Dispatch on the loaded dtype like the batch loader: the driver has
    # shipped ts as nanos-long and as native timestamp across rounds.
    ts_type = raw_schema["ts"].dataType.simpleString()
    if ts_type == "bigint":
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type != "timestamp":
        sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    return sdf.select(*raw_schema.fieldNames())


def run_to_memory(stream_df: DataFrame, output_mode: str = "complete",
                  name: str | None = None,
                  shuffle_partitions: int | None = 8) -> DataFrame:
    """Execute a streaming DataFrame to completion (Trigger.AvailableNow —
    the cron-tick replacement) into a memory sink; return the results.

    ``shuffle_partitions`` is pinned for the stream's lifetime: stateful
    operators materialize one state store per shuffle partition, so the
    count should track state size / key cardinality, not CPU count
    (32 near-empty stores measured 2.7x slower than 8 at sf0.1).  On a
    real cluster size it once per expected state volume — it is frozen
    into the checkpoint.
    """
    spark = stream_df.sparkSession
    name = name or f"mem_{uuid.uuid4().hex[:12]}"
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    if shuffle_partitions is not None:
        spark.conf.set(key, str(shuffle_partitions))
    try:
        q = (stream_df.writeStream.format("memory").queryName(name)
             .outputMode(output_mode).trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        spark.conf.set(key, prev)
    return spark.table(name)


def tumbling_counts(events: DataFrame, width: str = "5 minutes",
                    watermark: str = "10 minutes") -> DataFrame:
    """Tumbling-window counts/avgs per event_type with a watermark bounding
    state (late rows beyond the watermark are dropped at scale)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("win.start").cast("timestamp_ntz").alias("win_start"),
                "event_type", "n_events", "total_value")
    )


def sliding_counts(events: DataFrame, width: str = "10 minutes",
                   slide: str = "5 minutes",
                   watermark: str = "10 minutes") -> DataFrame:
    """Sliding windows: each event lands in width/slide windows.

    Distinct users via size(collect_set) — exact, so the batch oracle can
    verify it (streaming aggregation forbids count(DISTINCT); at higher
    cardinalities switch to approx_count_distinct and drop the oracle).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.size(F.collect_set("user_id")).alias("n_users"))
        .select(F.col("win.start").cast("timestamp_ntz").alias("win_start"),
                "n_events", "n_users")
    )


def session_windows(events: DataFrame, gap: str = "5 minutes",
                    watermark: str = "10 minutes") -> DataFrame:
    """Session windows per user: a session extends while events arrive
    within ``gap``; state is bounded by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("session_value"))
        .select("user_id",
                F.col("win.start").cast("timestamp_ntz").alias("session_start"),
                F.col("win.end").cast("timestamp_ntz").alias("session_end"),
                "n_events", "session_value")
    )


def dedup_within_watermark(events: DataFrame,
                           watermark: str = "30 minutes") -> DataFrame:
    """Bounded-state streaming dedup: first (user_id, event_type) occurrence
    wins; duplicates arriving within the watermark horizon are dropped.
    Projected to the key so output is order-insensitive."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def foreach_batch_publish(events: DataFrame, publisher, tag: str,
                          distributed: bool = True):
    """Streaming -> SQS: each micro-batch is packed into chunked envelopes
    and sent (records ride in the ``nodes`` slot).  Returns the started
    StreamingQuery (AvailableNow: one tick).

    ``distributed=True`` (default) sends executor-side via
    ``SqsPublisher.publish_distributed`` — each partition packs and ships
    its own envelopes, so batch size is bounded by partition size, not
    driver memory.  ``distributed=False`` sends through
    ``SqsPublisher.publish_collected``, which collects to the driver first:
    only for metadata-sized batches that must land as ONE contiguous
    chunk sequence (the reference's publish contract,
    publisher/aws_sqs_csv_puiblisher.py).

    Deployment note: without ``option("checkpointLocation", ...)`` every
    tick replays the full source (verified: a second AvailableNow run
    resends all records).  Set a checkpoint dir for exactly-once ticks;
    the content-hash MessageDeduplicationId makes accidental replays
    idempotent on FIFO queues either way."""
    def publish_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_tag = f"{tag}-batch{batch_id}"
        empty = batch_df.sparkSession.createDataFrame([], batch_df.schema)
        if distributed:
            publisher.publish_distributed(batch_df, empty, batch_tag)
        else:
            publisher.publish_collected(batch_df, empty, batch_tag)

    return (events.writeStream.foreachBatch(publish_batch)
            .trigger(availableNow=True).start())


def idempotent_foreach_batch(inner, ledger_dir: str):
    """Wrap a ``foreachBatch`` body with a batch-id ledger so redelivered
    micro-batches publish EXACTLY once.

    Structured Streaming guarantees at-least-once delivery to
    ``foreachBatch``: a crash between the sink side effect and the
    checkpoint commit redelivers the same ``batch_id`` on restart.  The
    wrapper makes the side effect idempotent the standard way — check a
    per-batch marker, run the body, then record the marker via
    atomic-rename (visible only when complete, so a crash mid-publish
    re-runs the batch rather than silently skipping it).  The ledger
    lives next to the sink (same durability domain), one empty file per
    batch — at any scale this is metadata-sized.  Complements the
    content-hash MessageDeduplicationId defense in sinks/sqs.py; use
    both for FIFO queues, this alone for sinks with no native dedup.
    """
    import os

    os.makedirs(ledger_dir, exist_ok=True)

    def body(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(ledger_dir, f"batch-{batch_id}.done")
        if os.path.exists(marker):
            return
        inner(batch_df, batch_id)
        tmp = marker + ".tmp"
        with open(tmp, "w", encoding="utf-8"):
            pass
        os.replace(tmp, marker)

    return body



def _merge_user_stats(state_tuple, pdfs):
    """Shared per-user aggregation for BOTH arbitrary-state APIs
    (applyInPandasWithState and transformWithStateInPandas): fold pandas
    batches into (n, total, first_us, last_us)."""
    n, total, first_us, last_us = state_tuple
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        n += len(pdf)
        total += float(pdf["value"].sum())
        ts_us = pdf["ts"].astype("int64") // 1000
        lo, hi = int(ts_us.min()), int(ts_us.max())
        first_us = lo if first_us is None else min(first_us, lo)
        last_us = hi if last_us is None else max(last_us, hi)
    return n, total, first_us, last_us


def _user_stats_frame(key, state_tuple):
    import pandas as pd
    n, total, first_us, last_us = state_tuple
    return pd.DataFrame({
        "user_id": [key[0]],
        "n_events": [n],
        "total_value": [round(total, 2)],
        "first_ts": [pd.Timestamp(first_us, unit="us")],
        "last_ts": [pd.Timestamp(last_us, unit="us")],
    })


def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running totals kept in explicit GroupState across micro-batches —
    the engine's escape hatch for stream logic no built-in expresses
    (the batch analogue of this hatch is operators/sessionize.py).

    Emits the updated per-user aggregate each micro-batch ("update" mode);
    over an AvailableNow replay of the fixture the final emission equals
    the batch aggregate, which is what the oracle checks.  State is three
    numeric scalars per user — bounded, skew-proof.
    """
    import pandas as pd  # local: keep module import Spark-session-free
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = ("user_id bigint, n_events bigint, total_value double, "
                  "first_ts timestamp_ntz, last_ts timestamp_ntz")

    def update(key: tuple, pdfs, state: GroupState):
        prev = state.get if state.exists else (0, 0.0, None, None)
        merged = _merge_user_stats(prev, pdfs)
        state.update(merged)
        yield _user_stats_frame(key, merged)

    return (
        events.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType="n bigint, total double, first_us bigint, last_us bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout)
    )


def stream_static_join_segments(events: DataFrame,
                                customer: DataFrame) -> DataFrame:
    """Stream-static join: the streaming fact joins a static dimension
    executor-side (no state needed — the dim is just a broadcast/lookup),
    then aggregates per segment.  The streaming twin of the batch
    dim-join queries."""
    joined = events.join(
        customer, events["user_id"] == customer["c_custkey"])
    return (joined.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("total_value")))


def stream_stream_purchase_clicks(events_a: DataFrame,
                                  events_b: DataFrame,
                                  lookback: str = "10 minutes",
                                  watermark: str = "30 minutes") -> DataFrame:
    """Stream-stream inner join with an event-time range condition:
    each purchase pairs with the same user's clicks in the preceding
    ``lookback``.  Watermarks on BOTH sides bound the join state — the
    required ingredient for stream-stream joins to run unbounded."""
    p = (events_a.filter(F.col("event_type") == "purchase")
         .withWatermark("ts", watermark)
         .select(F.col("user_id").alias("p_user"),
                 F.col("ts").alias("p_ts"),
                 F.col("event_id").alias("purchase_id")))
    c = (events_b.filter(F.col("event_type") == "click")
         .withWatermark("ts", watermark)
         .select(F.col("user_id").alias("c_user"),
                 F.col("ts").alias("c_ts"),
                 F.col("event_id").alias("click_id")))
    return p.join(
        c, (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select("p_user", "purchase_id", "click_id",
             F.col("p_ts").cast("timestamp_ntz").alias("p_ts"),
             F.col("c_ts").cast("timestamp_ntz").alias("c_ts"))


def make_user_stats_processor():
    """Build the ``StatefulProcessor`` behind ``stateful_user_stats_tws``.

    Module-level factory (not a closure) so tests can drive the
    processor's ``init``/``handleInputRows`` contract directly against a
    fake handle — the processor logic is pure pandas folding via
    ``_merge_user_stats`` and needs no TWS runtime to be exercised.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "agg", "n bigint, total double, first_us bigint, last_us bigint")

        def handleInputRows(self, key, rows, timerValues):
            prev = (self._state.get() if self._state.exists()
                    else (0, 0.0, None, None))
            merged = _merge_user_stats(prev, rows)
            self._state.update(merged)
            yield _user_stats_frame(key, merged)

        def close(self) -> None:
            pass

    return UserStats()


def stateful_user_stats_tws(events: DataFrame) -> DataFrame:
    """The same per-user running aggregate as ``stateful_user_stats`` on
    the transformWithStateInPandas API (Spark 4.x's successor to
    applyInPandasWithState: named state variables on a processor object,
    timers, TTL).  Both implementations produce the same per-user result.

    NOT in the query registry: the TWS python RUNNER needs a working
    google.protobuf (state (de)serialization), absent from this
    container — same optional-dependency category as the Kafka broker
    and live JDBC.  The processor LOGIC is fully exercised without the
    runner (tests/test_streaming.py drives it against a fake handle and
    asserts parity with the applyInPandasWithState path); the end-to-end
    runner comparison additionally runs wherever protobuf is installed.
    """
    out_schema = ("user_id bigint, n_events bigint, total_value double, "
                  "first_ts timestamp_ntz, last_ts timestamp_ntz")
    return (events.groupBy("user_id").transformWithStateInPandas(
        make_user_stats_processor(), outputStructType=out_schema,
        outputMode="Update", timeMode="None"))


def stateful_funnel(events: DataFrame,
                    steps: tuple[str, ...] = ("view", "click", "purchase")
                    ) -> DataFrame:
    """Streaming twin of operators/funnel.py: the per-user step state
    machine runs in explicit GroupState (one nullable epoch-micros slot
    per step), advanced by each micro-batch and emitted in update mode.

    Filled steps are monotonic — a later batch can only fill LATER
    steps, never rewrite earlier ones — so in-order replay converges to
    exactly the batch funnel (the oracle).  Out-of-order arrivals that
    should have filled an earlier step are dropped by design (add a
    watermark + per-batch sort upstream to bound that, as
    stream_dedup_watermark does for duplicates).  State is
    len(steps) longs per user: bounded, skew-proof.
    """
    import pandas as pd  # local: keep module import Spark-session-free
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n = len(steps)
    out_schema = "user_id bigint, " + ", ".join(
        f"{s}_ts timestamp_ntz" for s in steps)
    state_schema = ", ".join(f"s{i}_us bigint" for i in range(n))

    def update(key: tuple, pdfs, state: GroupState):
        vals = list(state.get) if state.exists else [None] * n
        ev = pd.concat([pdf[["ts", "event_type"]] for pdf in pdfs])
        ev = ev.sort_values(["ts", "event_type"])
        for ts, et in zip(ev["ts"], ev["event_type"]):
            if et not in steps:
                continue
            i = steps.index(et)
            t_us = int(ts.value // 1000)
            if vals[i] is None and (
                    i == 0 or (vals[i - 1] is not None
                               and t_us > vals[i - 1])):
                vals[i] = t_us
        state.update(tuple(vals))
        yield pd.DataFrame({
            "user_id": [key[0]],
            **{f"{s}_ts": [pd.Timestamp(vals[i], unit="us")
                           if vals[i] is not None else pd.NaT]
               for i, s in enumerate(steps)},
        })

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)
