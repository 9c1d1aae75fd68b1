"""Operational observability surfaces: per-action metrics without a second
pass over the data (the engine-side upgrade of the reference's statsd
success/fail counters, pipeline.py MetricsEmitter)."""

from pyspark.sql import Observation
from pyspark.sql import functions as F

from ab_metadata_pusher_spark.sources.fixtures import load_table


def test_observe_collects_metrics_in_one_pass(spark, sf_dir):
    """df.observe threads accumulator-backed aggregates through the SAME
    job that materializes the result — row counts, null counts, value
    bounds for data-quality gates come free with the write, no extra
    scan.  This is how the 100 TB pipeline records per-publish stats
    (rows staged, nulls dropped, max ts) without doubling I/O."""
    docs = load_table(spark, sf_dir, "documents")
    obs = Observation("publish_stats")
    staged = (docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("text").isNull().cast("long")).alias("null_texts"),
        F.max("n_chars").alias("max_chars"))
        .filter(F.col("n_chars") > 0))
    n_out = staged.count()
    got = obs.get
    assert got["n_rows"] >= n_out
    assert got["null_texts"] == 0
    assert got["max_chars"] > 0


def test_pipeline_reports_observed_staged_rows(spark, tmp_path):
    """Pipeline.run must carry per-frame staged row counts measured by
    df.observe during the staging write itself (no recount job), and
    emit them as gauges."""
    from pyspark.sql import functions as F

    from ab_metadata_pusher_spark.pipeline import MetricsEmitter, Pipeline
    from ab_metadata_pusher_spark.sinks.staging import StagingArea

    class Gauges(MetricsEmitter):
        def __init__(self):
            self.gauges = {}

        def gauge(self, metric, value):
            self.gauges[metric] = value

    def extract(s):
        nodes = s.range(7).select(
            F.concat(F.lit("n"), F.col("id")).alias("KEY"),
            F.lit("Table").alias("LABEL"))
        rels = s.range(3).select(
            F.concat(F.lit("a"), F.col("id")).alias("START_KEY"),
            F.lit("Table").alias("START_LABEL"),
            F.concat(F.lit("b"), F.col("id")).alias("END_KEY"),
            F.lit("Column").alias("END_LABEL"),
            F.lit("COL").alias("TYPE"))
        return nodes, rels

    g = Gauges()
    p = Pipeline(identifier="obs_test",
                 staging=StagingArea(str(tmp_path / "stage")),
                 extract=extract, metrics=g)
    res = p.run(spark)
    assert res.staged_rows == {"nodes": 7, "relations": 3}
    assert any(k.endswith("staged_rows.nodes") and v == 7
               for k, v in g.gauges.items())


def test_streaming_query_listener_captures_progress(spark, sf_dir):
    """Operational metrics for streams: a Python StreamingQueryListener
    receives per-batch progress (rows processed, sink description) with
    no extra pass — the streaming analogue of df.observe, and the hook a
    production deployment points at its metrics backend."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from ab_metadata_pusher_spark.streaming import events as E

    rows_seen = []

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            rows_seen.append(event.progress.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Capture()
    spark.streams.addListener(listener)
    try:
        out = E.run_to_memory(
            E.tumbling_counts(E.events_stream(spark, sf_dir)))
        n_out = out.count()
        # listener delivery is async; progress arrives shortly after
        deadline = time.time() + 30
        while not rows_seen and time.time() < deadline:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    assert n_out > 0
    assert sum(rows_seen) > 0


def test_statsd_emitter_sends_real_udp_datagrams(spark, tmp_path):
    """E5 live: Pipeline.run with the StatsdEmitter must deliver REAL
    statsd wire-protocol datagrams to a UDP listener — the reference's
    amundsen.databuilder.job.{id}.{success} counter naming discipline,
    exercised over an actual socket instead of a logger stub — carrying
    the staged row counts, each phase's wall time and the publish
    volume as gauges.  A send to a dead port must be swallowed (metrics
    never fail the job)."""
    import socket

    from pyspark.sql import functions as F

    from ab_metadata_pusher_spark.pipeline import (
        METRIC_PREFIX, Pipeline, StatsdEmitter,
    )
    from ab_metadata_pusher_spark.sinks.sqs import SqsPublisher
    from ab_metadata_pusher_spark.sinks.staging import StagingArea

    class Sqs:
        def send_message_batch(self, QueueUrl, Entries):
            return {}

    srv = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    srv.bind(("127.0.0.1", 0))
    srv.settimeout(5)
    port = srv.getsockname()[1]

    def extract(s):
        nodes = s.range(2).select(
            F.concat(F.lit("n"), F.col("id")).alias("KEY"),
            F.lit("Table").alias("LABEL"))
        rels = s.range(1).select(
            F.lit("a").alias("START_KEY"), F.lit("Table").alias("START_LABEL"),
            F.lit("b").alias("END_KEY"), F.lit("Column").alias("END_LABEL"),
            F.lit("COL").alias("TYPE"))
        return nodes, rels

    publisher = SqsPublisher("https://queue/statsd", Sqs, max_bytes=160)
    p = Pipeline(identifier="statsd_live",
                 staging=StagingArea(str(tmp_path / "stage")),
                 extract=extract,
                 publish=lambda n, r: publisher.publish_collected(n, r, "t"),
                 metrics=StatsdEmitter("127.0.0.1", port))
    res = p.run(spark)
    assert res.succeeded
    assert set(res.phase_sec) == {"extract_stage", "read_back", "publish"}
    rep = res.publish_report
    assert res.publish_volume == {"messages": rep.messages_sent,
                                  "batches": rep.batches_sent,
                                  "bytes": rep.bytes_sent}
    assert rep.messages_sent > 1  # 160-byte envelopes split the 3 records

    name = f"{METRIC_PREFIX}.statsd_live."
    success = f"{name}success:1|c"
    seen = []
    while success not in seen:  # the success counter goes out last
        seen.append(srv.recvfrom(65536)[0].decode())
    srv.close()
    gauges = {}
    for datagram in seen[:-1]:
        metric, _, value = datagram.removesuffix("|g").rpartition(":")
        gauges[metric.removeprefix(name)] = float(value)
    assert gauges == {
        "staged_rows.nodes": 2, "staged_rows.relations": 1,
        **{f"phase_sec.{k}": v for k, v in res.phase_sec.items()},
        **{f"published.{k}": v for k, v in res.publish_volume.items()}}
    assert all(v >= 0 for v in res.phase_sec.values())

    # fire-and-forget: an unroutable destination must not raise
    StatsdEmitter("127.0.0.1", 9).incr("x.y")


# --- F7: logging bootstrap (reference config/logging_config.ini +
# --- job/sample_mysql_aws_sqs_job.py:16-18) -------------------------------

import contextlib
import logging


@contextlib.contextmanager
def _preserved_root_logger():
    """Snapshot/restore root handlers+level so logging tests never
    disturb pytest's own capture handlers."""
    root = logging.getLogger()
    handlers, level = list(root.handlers), root.level
    try:
        yield root
    finally:
        root.handlers[:] = handlers
        root.setLevel(level)


def test_configure_logging_default_matches_reference_contract(capsys):
    """No ini: root at INFO with ONE stdout handler using the
    reference's format (asctime.msecs [LEVEL] module.func:line
    (pid:thread) - msg), and re-running must not stack duplicates —
    the reference re-runs fileConfig on every job import."""
    from ab_metadata_pusher_spark.config import _HANDLER_TAG, configure_logging

    with _preserved_root_logger() as root:
        ret = configure_logging()
        assert ret is root
        assert root.level == logging.INFO
        ours = [h for h in root.handlers if getattr(h, _HANDLER_TAG, False)]
        assert len(ours) == 1

        configure_logging()  # idempotent: replaced, not stacked
        ours = [h for h in root.handlers if getattr(h, _HANDLER_TAG, False)]
        assert len(ours) == 1

        logging.getLogger("f7.probe").info("hello f7")
        line = capsys.readouterr().out.strip().splitlines()[-1]
        assert "[INFO]" in line and "- hello f7" in line
        # module.funcName:lineno and (pid:threadName) are in the format
        assert ":" in line and "(" in line

        # DEBUG is below the reference's INFO floor: must not emit
        logging.getLogger("f7.probe").debug("invisible")
        assert "invisible" not in capsys.readouterr().out


def test_configure_logging_loads_reference_shaped_ini(tmp_path, monkeypatch):
    """An ini in the reference's exact shape (config/logging_config.ini:1-21)
    loads via fileConfig; pre-existing module loggers stay enabled
    (disable_existing_loggers=False — the ini default True would kill
    every Spark/py4j logger created before bootstrap)."""
    from ab_metadata_pusher_spark.config import configure_logging

    ini = tmp_path / "logging_config.ini"
    ini.write_text("""\
[loggers]
keys=root

[handlers]
keys=stream_handler

[formatters]
keys=formatter

[logger_root]
level=INFO
handlers=stream_handler

[handler_stream_handler]
class=StreamHandler
level=INFO
formatter=formatter
args=(sys.stdout,)

[formatter_formatter]
format=%(asctime)s [%(levelname)s] %(message)s
""")
    with _preserved_root_logger() as root:
        survivor = logging.getLogger("created.before.bootstrap")
        survivor.disabled = False

        configure_logging(ini)
        assert root.level == logging.INFO
        assert any(isinstance(h, logging.StreamHandler) for h in root.handlers)
        assert survivor.disabled is False

    # env-var contract (F6 idiom applied to F7): $LOGGING_CONFIG_FILE
    with _preserved_root_logger() as root:
        root.setLevel(logging.WARNING)
        monkeypatch.setenv("LOGGING_CONFIG_FILE", str(ini))
        configure_logging()
        assert root.level == logging.INFO
