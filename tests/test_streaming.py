"""Streaming tests: foreachBatch -> SQS publishing and stream/batch
equivalence (the oracle-parity suite covers windowed/session/dedup values;
these cover the sink path and the AvailableNow tick)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from ab_metadata_pusher_spark.sinks.envelope import pack_envelopes
from ab_metadata_pusher_spark.sinks.sqs import SqsPublisher
from ab_metadata_pusher_spark.sources.fixtures import load_table
from ab_metadata_pusher_spark.streaming import events as E

from tests.test_sinks import StubSqsClient


def test_foreach_batch_publish_driver_mode(spark, sf_dir):
    """distributed=False: the reference-parity contiguous-chunk publish —
    one collect, one envelope sequence per micro-batch, sent through
    ``publish_collected`` and byte-identical to packing the batch's
    ``asDict(recursive=True)`` rows."""
    stub = StubSqsClient()
    want: dict[str, list[str]] = {}

    class ReferencePublisher(SqsPublisher):
        def publish_collected(self, nodes, relations, tag):
            want[tag] = list(pack_envelopes(
                [r.asDict(recursive=True) for r in nodes.collect()],
                [r.asDict(recursive=True) for r in relations.collect()],
                tag, self.max_bytes))
            return super().publish_collected(nodes, relations, tag)

    publisher = ReferencePublisher("https://queue/stream", lambda: stub,
                                   max_bytes=32 * 1024)
    stream = E.events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type")
    q = E.foreach_batch_publish(stream, publisher, tag="tick1",
                                distributed=False)
    q.awaitTermination()

    assert stub.batches, "no batches published"
    total = 0
    for batch in stub.batches:
        for e in batch["Entries"]:
            env = json.loads(e["MessageBody"])
            assert env["tag"].startswith("tick1-batch")
            assert len(e["MessageBody"].encode()) <= 32 * 1024
            total += len(env["nodes"])
    n_events = load_table(spark, sf_dir, "events").count()
    assert total == n_events
    got: dict[str, list[str]] = {}
    for batch in stub.batches:
        for e in batch["Entries"]:
            body = e["MessageBody"]
            got.setdefault(json.loads(body)["tag"], []).append(body)
    assert got == want


def test_foreach_batch_publish_distributed(spark, sf_dir, tmp_path):
    """distributed=True (default): every partition packs and sends its own
    envelopes executor-side — no driver collect in the corpus path."""
    spool = str(tmp_path)

    # Defined inside the test so cloudpickle ships it BY VALUE to the
    # Python workers (test modules aren't importable there).  Each
    # send_message_batch writes one JSON file into spool_dir — local
    # workers share the FS, so the driver-side test reads everything back.
    class FileSpoolSqsClient:
        def __init__(self, spool_dir: str) -> None:
            self.spool_dir = spool_dir

        def send_message_batch(self, QueueUrl, Entries):
            import json as _json
            import os
            import uuid
            path = os.path.join(self.spool_dir, uuid.uuid4().hex + ".json")
            with open(path, "w") as f:
                _json.dump({"QueueUrl": QueueUrl, "Entries": Entries}, f)
            return {}

    publisher = SqsPublisher("https://queue/stream",
                             lambda: FileSpoolSqsClient(spool),
                             max_bytes=32 * 1024)
    stream = E.events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type")
    q = E.foreach_batch_publish(stream, publisher, tag="tick2")
    q.awaitTermination()

    import pathlib
    total = 0
    files = list(pathlib.Path(spool).glob("*.json"))
    assert files, "no executor-side batches spooled"
    for p in files:
        batch = json.loads(p.read_text())
        for e in batch["Entries"]:
            env = json.loads(e["MessageBody"])
            assert env["tag"].startswith("tick2-batch")
            assert len(e["MessageBody"].encode()) <= 32 * 1024
            total += len(env["nodes"])
    n_events = load_table(spark, sf_dir, "events").count()
    assert total == n_events


def test_stream_equals_batch_tumbling(spark, sf_dir):
    """The AvailableNow stream over the fixture must agree with the same
    aggregation computed in batch — Spark vs Spark, full values."""
    streamed = E.run_to_memory(
        E.tumbling_counts(E.events_stream(spark, sf_dir)))
    batch = (load_table(spark, sf_dir, "events")
             .groupBy(F.window(F.col("ts").cast("timestamp"), "5 minutes")
                      .alias("win"), "event_type")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.round(F.sum("value"), 2).alias("total_value"))
             .select(F.col("win.start").alias("win_start"), "event_type",
                     "n_events", "total_value"))
    s = {tuple(map(str, r)) for r in streamed.collect()}
    b = {tuple(map(str, r)) for r in batch.collect()}
    assert s == b


def test_transform_with_state_matches_apply_in_pandas(spark, sf_dir):
    """The two arbitrary-state APIs must produce identical per-user stats.

    transformWithStateInPandas needs google.protobuf at runtime (its
    state-server protocol is protobuf-framed — not vendorable: the
    runner needs the C/py runtime package, not just descriptors).  Where
    the container lacks it this test asserts THAT failure mode instead
    of silently skipping (same pattern as the Pillow/PyAV codec gates):
    the TWS runner must die with the documented stream error, while the
    applyInPandasWithState twin — whose parity this test checks wherever
    protobuf exists — keeps covering the semantics below."""
    import pytest
    from ab_metadata_pusher_spark.streaming import events as E
    try:
        from google.protobuf import descriptor  # noqa: F401
        has_protobuf = True
    except ImportError:
        has_protobuf = False
    a = E.run_to_memory(
        E.stateful_user_stats(E.events_stream(spark, sf_dir)),
        output_mode="update")
    if not has_protobuf:
        from pyspark.errors import StreamingQueryException
        with pytest.raises(StreamingQueryException,
                           match="TransformWithStateInPySpark"):
            E.run_to_memory(
                E.stateful_user_stats_tws(E.events_stream(spark, sf_dir)),
                output_mode="update")
        # the shared fold itself stays covered: applyInPandasWithState
        # parity against the batch oracle (driver-green
        # stream_stateful_user_stats) + the no-runtime processor test
        assert a.count() > 0
        return
    b = E.run_to_memory(
        E.stateful_user_stats_tws(E.events_stream(spark, sf_dir)),
        output_mode="update")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_checkpoint_restart_resumes_without_reprocessing(spark, tmp_path):
    """Exactly-once resume: a checkpointed file-source stream, stopped and
    restarted after new files arrive, must process ONLY the unseen files
    — the recovery contract the reference's one-shot cron publisher
    cannot offer (a crashed run either loses or resends everything).

    This is the engine-level guarantee under streaming/events.py's
    'set a checkpoint dir for exactly-once ticks' deployment note."""
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def add_file(name: str, ids: list[int]) -> None:
        spark.createDataFrame(
            spark.sparkContext.parallelize([(i,) for i in ids], 1),
            "id long").write.parquet(str(src / name))

    add_file("f1", [1, 2])
    add_file("f2", [3, 4])

    seen: list[tuple[int, list[int]]] = []

    def run_once() -> None:
        stream = (spark.readStream.schema("id long")
                  .option("recursiveFileLookup", "true")
                  .parquet(str(src)))
        q = (stream.writeStream
             .option("checkpointLocation", ckpt)
             .foreachBatch(lambda df, bid: seen.append(
                 (bid, sorted(r["id"] for r in df.collect()))))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    first = sorted(i for _, ids in seen for i in ids)
    assert first == [1, 2, 3, 4]

    add_file("f3", [5, 6])
    seen.clear()
    run_once()
    second = sorted(i for _, ids in seen for i in ids)
    assert second == [5, 6], f"reprocessed old data: {second}"


def test_tws_processor_logic_without_runtime(spark, sf_dir):
    """Drive the transformWithState processor's init/handleInputRows
    contract directly against a fake state handle — the processor logic
    (shared _merge_user_stats fold) is fully exercised with NO protobuf
    / TWS runner, and must equal the applyInPandasWithState result on
    the same data.  The gated test above additionally runs the real
    runner wherever protobuf exists."""
    import pandas as pd

    from ab_metadata_pusher_spark.sources.fixtures import load_table
    from ab_metadata_pusher_spark.streaming.events import (
        make_user_stats_processor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema):
            return self.states.setdefault(name, FakeValueState())

    events = load_table(spark, sf_dir, "events")
    pdf = events.select("user_id", "value", "ts").toPandas()

    proc = make_user_stats_processor()
    handle = FakeHandle()
    proc.init(handle)
    got = {}
    for uid, g in pdf.groupby("user_id"):
        # fresh state per key, two half-batches to prove state carries
        proc.init(FakeHandle())
        half = len(g) // 2
        out = None
        for chunk in (g.iloc[:half], g.iloc[half:]):
            for frame in proc.handleInputRows((uid,), iter([chunk]), None):
                out = frame
        got[uid] = (int(out.n_events.iloc[0]),
                    float(out.total_value.iloc[0]),
                    out.first_ts.iloc[0], out.last_ts.iloc[0])
    proc.close()

    exact = (events.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.sum("value"), 2).alias("t"),
                  F.min("ts").alias("f"), F.max("ts").alias("l")).collect())
    for r in exact:
        n, t, f, l = got[r.user_id]
        assert n == r.n
        assert abs(t - float(r.t)) < 1e-6
        assert pd.Timestamp(f) == pd.Timestamp(r.f)
        assert pd.Timestamp(l) == pd.Timestamp(r.l)


def test_idempotent_foreach_batch_skips_redelivered_batches(spark, tmp_path):
    """At-least-once foreachBatch redelivery (crash between side effect
    and checkpoint commit) must not double-publish: the ledgered wrapper
    runs each batch_id once, re-runs a batch whose marker never landed,
    and isolates ledgers per sink."""
    from ab_metadata_pusher_spark.streaming.events import (
        idempotent_foreach_batch,
    )

    calls = []
    body = idempotent_foreach_batch(
        lambda df, bid: calls.append(bid), str(tmp_path / "ledger"))
    df = spark.range(3)
    body(df, 0)
    body(df, 1)
    body(df, 0)  # redelivery after simulated restart
    assert calls == [0, 1]

    # a crash BEFORE the marker rename re-runs the batch (no silent skip)
    boom = []

    def flaky(df_, bid):
        boom.append(bid)
        if len(boom) == 1:
            raise RuntimeError("crash mid-publish")

    body2 = idempotent_foreach_batch(flaky, str(tmp_path / "ledger2"))
    import pytest as _p
    with _p.raises(RuntimeError):
        body2(df, 7)
    body2(df, 7)
    assert boom == [7, 7]
    body2(df, 7)
    assert boom == [7, 7]


def test_idempotent_ledger_in_real_stream_replay(spark, sf_dir, tmp_path):
    """End-to-end: an UNcheckpointed AvailableNow stream replays its
    whole source on every start (verified contract in
    foreach_batch_publish's docstring); with the ledgered foreachBatch
    body the sink still receives each batch exactly once."""
    import json as _json

    from ab_metadata_pusher_spark.streaming.events import (
        events_stream, idempotent_foreach_batch,
    )

    out = tmp_path / "sink.jsonl"

    def write_sink(batch_df, batch_id):
        rows = batch_df.groupBy("event_type").count().collect()
        with open(out, "a", encoding="utf-8") as fh:
            for r in rows:
                fh.write(_json.dumps(
                    {"batch": batch_id, "t": r.event_type,
                     "n": r["count"]}) + "\n")

    body = idempotent_foreach_batch(write_sink, str(tmp_path / "ledger"))

    def run_once():
        q = (events_stream(spark, sf_dir).writeStream
             .foreachBatch(body).trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()
    first = out.read_text().splitlines()
    assert first, "sink received nothing"
    run_once()  # full replay (no checkpoint) — ledger must swallow it
    assert out.read_text().splitlines() == first


def test_max_files_per_trigger_bounds_microbatches(spark, sf_dir, tmp_path):
    """Backpressure knob: maxFilesPerTrigger=1 over a 3-file source must
    process AvailableNow in 3 bounded micro-batches (each batch's input
    is one file), not one unbounded gulp — the setting that keeps batch
    size constant as a 100 TB backlog drains."""
    from ab_metadata_pusher_spark.sources.fixtures import load_table

    src = tmp_path / "files"
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    ev.limit(300).repartition(3).write.parquet(str(src))
    n_files = len(list(src.glob("part-*.parquet")))
    assert n_files == 3

    batches = []

    def record(batch_df, batch_id):
        batches.append(batch_df.count())

    q = (spark.readStream.schema("event_id bigint, value double")
         .option("maxFilesPerTrigger", "1").parquet(str(src))
         .writeStream.foreachBatch(record)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    assert len(batches) == 3, batches
    assert sum(batches) == 300
    assert max(batches) < 300  # no single unbounded batch


def test_foreach_batch_publish_live_boto3_endpoint(
        spark, sf_dir, sqs_http_endpoint):
    """The streaming tick end-to-end on the LIVE protocol path: file
    stream -> foreachBatch -> executor-side chunked publish through a
    real boto3 client to the local SQS-JSON HTTP endpoint — the same
    wire path a production tick takes, with every event delivered
    exactly once across the run's micro-batches."""
    port, received, lock = sqs_http_endpoint

    def client_factory(port=port):
        import boto3
        return boto3.client(
            "sqs", region_name="us-east-1",
            aws_access_key_id="test", aws_secret_access_key="test",
            endpoint_url=f"http://127.0.0.1:{port}")

    publisher = SqsPublisher("http://q/stream.fifo", client_factory,
                             max_bytes=32 * 1024)
    stream = E.events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type")
    q = E.foreach_batch_publish(stream, publisher, tag="live-tick")
    q.awaitTermination()

    with lock:
        bodies = list(received)
    assert bodies, "no live batches received"
    total = 0
    for b in bodies:
        env = json.loads(b)
        assert env["tag"].startswith("live-tick-batch")
        assert len(b.encode()) <= 32 * 1024
        total += len(env["nodes"])
    n_events = load_table(spark, sf_dir, "events").count()
    assert total == n_events
