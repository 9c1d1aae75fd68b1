"""Pipeline lifecycle: the reference's Job/Task/Publisher composition,
DataFrame-native (SURVEY.md §2.F F1/F2, §2.E E5/E7).

The reference's ``CustomizedJob.launch()`` (job/customized_job.py:49-92)
runs: init task -> task.run() (row pull-loop) -> task.close() -> init
publisher -> publish(), with statsd success/fail counters (:80-88) and a
task-optional publisher-only mode (:30-34,65-67).

Here the pull-loop disappears (lazy DataFrame lineage; one action executes
the plan).  What remains is the orchestration contract:

* ``extract`` builds the (nodes, relations) DataFrames;
* ``stage`` persists them (restartability boundary — EP3);
* ``publish`` ships staged data to the terminal sink;
* publisher-only mode re-publishes existing staging without recompute;
* success/fail counters + on_success/on_failure callbacks (E7) with the
  reference's statsd metric naming kept for parity
  (``amundsen.databuilder.job.{identifier}.{success|fail}`` shape,
  job/customized_job.py:17-18 — re-namespaced to this engine);
* per-phase wall time (extract+stage, read-back, publish) and publish
  volume (messages, batches, bytes) on ``PipelineResult``, emitted as
  gauges beside the staged row counts.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ab_metadata_pusher_spark.sinks.sqs import PublishReport
from ab_metadata_pusher_spark.sinks.staging import StagingArea

__all__ = ["MetricsEmitter", "Pipeline", "PipelineResult"]

logger = logging.getLogger(__name__)

METRIC_PREFIX = "ab_metadata_pusher_spark.job"


class MetricsEmitter:
    """statsd-protocol counter/gauge emitter (E5).  The default
    implementation logs; :class:`StatsdEmitter` sends the real wire
    protocol."""

    def incr(self, metric: str) -> None:  # pragma: no cover - trivial
        logger.info("metric incr: %s", metric)

    def gauge(self, metric: str, value: float) -> None:  # pragma: no cover
        logger.info("metric gauge: %s=%s", metric, value)


class StatsdEmitter(MetricsEmitter):
    """Real statsd emission over UDP — the reference's opt-in metrics
    path (job/customized_job.py:17-44,80-88 wraps launch() in
    ``amundsen.databuilder.job.{id}.{success|fail}`` counters when
    ``is_statsd_enabled``).  The wire protocol is one datagram per
    event: ``<name>:<value>|c`` for counters, ``|g`` for gauges —
    fire-and-forget UDP, never blocks or raises into the job
    (send errors are swallowed, matching statsd client semantics).
    Live-tested against a real UDP listener in
    tests/test_observability.py."""

    def __init__(self, host: str = "127.0.0.1", port: int = 8125) -> None:
        import socket

        self._addr = (host, port)
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)

    def _send(self, payload: str) -> None:
        try:
            self._sock.sendto(payload.encode("utf-8"), self._addr)
        except OSError:  # metrics must never fail the job
            logger.warning("statsd send failed for %r", payload)

    def incr(self, metric: str) -> None:
        self._send(f"{metric}:1|c")

    def gauge(self, metric: str, value: float) -> None:
        self._send(f"{metric}:{value}|g")


@dataclass
class PipelineResult:
    identifier: str
    succeeded: bool
    staged: bool
    published: bool
    elapsed_sec: float
    publish_report: Any = None
    #: rows staged per frame, measured by ``df.observe`` DURING the
    #: staging write — no second pass (None for publisher-only runs).
    staged_rows: dict[str, int] | None = None
    #: wall seconds per phase: ``extract_stage`` (extract, transform and
    #: staging write; absent for publisher-only runs), ``read_back`` and
    #: ``publish`` (absent without a publisher).
    phase_sec: dict[str, float] = field(default_factory=dict)
    #: ``messages``/``batches``/``bytes`` sent, when the publisher
    #: returns a :class:`PublishReport` (None otherwise).
    publish_volume: dict[str, int] | None = None


@dataclass
class Pipeline:
    """Extract -> Stage -> Publish with the reference's lifecycle contract.

    ``extract`` is None for publisher-only runs (F2/EP3): staging is read
    back instead of recomputed.
    """

    identifier: str
    staging: StagingArea
    extract: Callable[[SparkSession], tuple[DataFrame, DataFrame]] | None = None
    #: C1 transform hook — the reference's DefaultTask defaults to a noop
    #: transformer (job/sample_mysql_aws_sqs_job.py:74 passes none); here a
    #: (nodes, relations) -> (nodes, relations) DataFrame rewrite applied
    #: between extract and staging.  None = identity.
    transform: Callable[[DataFrame, DataFrame],
                        tuple[DataFrame, DataFrame]] | None = None
    publish: Callable[[DataFrame, DataFrame], Any] | None = None
    metrics: MetricsEmitter = field(default_factory=MetricsEmitter)
    on_success: Callable[[PipelineResult], None] | None = None
    on_failure: Callable[[Exception], None] | None = None

    def run(self, spark: SparkSession) -> PipelineResult:
        start = time.time()
        staged = published = False
        report = None
        staged_rows: dict[str, int] | None = None
        volume: dict[str, int] | None = None
        phase_sec: dict[str, float] = {}
        # feature-detect: pre-existing emitters implement only the
        # reference's incr counters
        gauge = getattr(self.metrics, "gauge", None)
        clock = time.perf_counter()

        def emit(name: str, value: float) -> None:
            if callable(gauge):
                gauge(f"{METRIC_PREFIX}.{self.identifier}.{name}", value)

        def end_phase(phase: str) -> None:
            nonlocal clock
            now = time.perf_counter()
            phase_sec[phase] = round(now - clock, 3)
            clock = now

        try:
            if self.extract is not None:
                nodes, relations = self.extract(spark)
                if self.transform is not None:
                    nodes, relations = self.transform(nodes, relations)
                # Observed aggregates ride the staging write's own job —
                # per-publish row counts at zero extra passes (the
                # reference re-counts records driver-side in its publish
                # loop, publisher/aws_sqs_csv_puiblisher.py).
                obs_n, obs_r = Observation(), Observation()
                nodes = nodes.observe(
                    obs_n, F.count(F.lit(1)).alias("n_rows"))
                relations = relations.observe(
                    obs_r, F.count(F.lit(1)).alias("n_rows"))
                self.staging.write(nodes, relations)
                staged = True
                staged_rows = {"nodes": int(obs_n.get["n_rows"]),
                               "relations": int(obs_r.get["n_rows"])}
                end_phase("extract_stage")
                for frame, n in staged_rows.items():
                    emit(f"staged_rows.{frame}", n)
            nodes = self.staging.read_nodes(spark)
            relations = self.staging.read_relations(spark)
            end_phase("read_back")
            if self.publish is not None:
                report = self.publish(nodes, relations)
                published = True
                end_phase("publish")
                if isinstance(report, PublishReport):
                    volume = {"messages": report.messages_sent,
                              "batches": report.batches_sent,
                              "bytes": report.bytes_sent}
        except Exception as exc:
            self.metrics.incr(f"{METRIC_PREFIX}.{self.identifier}.fail")
            if self.on_failure is not None:
                self.on_failure(exc)
            raise
        for phase, sec in phase_sec.items():
            emit(f"phase_sec.{phase}", sec)
        for name, n in (volume or {}).items():
            emit(f"published.{name}", n)
        self.metrics.incr(f"{METRIC_PREFIX}.{self.identifier}.success")
        result = PipelineResult(
            identifier=self.identifier, succeeded=True, staged=staged,
            published=published, elapsed_sec=round(time.time() - start, 3),
            publish_report=report, staged_rows=staged_rows,
            phase_sec=phase_sec, publish_volume=volume)
        if self.on_success is not None:
            self.on_success(result)
        return result
