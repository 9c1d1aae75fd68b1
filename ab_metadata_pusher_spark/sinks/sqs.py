"""SQS publisher: size-enforced, batched, idempotent (SURVEY.md §2.E E3/E4).

The reference's publisher (publisher/aws_sqs_csv_puiblisher.py:99-143)
re-reads staged CSVs with pandas, accumulates every record in memory, and
issues ONE ``send_message`` — unbounded memory, unenforced 256 KiB limit,
dead ``JOB_PUBLISH_TAG``.  This sink fixes all three:

* records stream through :mod:`ab_metadata_pusher_spark.sinks.envelope`
  greedy packing — every message provably <= 256 KiB;
* messages go out via ``SendMessageBatch`` (10 per call — the SQS batch
  cap);
* every envelope carries ``tag`` (the publish tag, implemented for real)
  and a content-hash ``MessageDeduplicationId`` so FIFO re-publishes are
  idempotent.

Two execution modes:

* ``publish_collected`` — driver-side, for metadata-sized outputs
  (reference parity: the whole graph of a database's catalog is small).
  Each frame crosses from the JVM as Arrow record batches
  (``DataFrame.toArrow``), and each batch's record JSON is built column
  by column with Arrow compute kernels into one Arrow text array.  The
  packer sizes records from those arrays' offsets and slices each body
  from their data buffers, so the driver holds Arrow columns and Arrow
  text buffers.  No ``Row`` or dict is made per record, and string,
  integer and boolean values never become Python objects;
* ``publish_distributed`` — ``foreachPartition``: each executor packs and
  sends its partition, so 100 TB of records never transit the driver.
  Clients are constructed per-partition via the injectable factory.

The boto3 client is injected (``client_factory``) — tests use a stub; real
deployments pass ``lambda: boto3.client("sqs")``.
"""

from __future__ import annotations

import datetime
import hashlib
import logging
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.types import (
    ArrayType, DataType, MapType, StructType, TimestampType,
)

from ab_metadata_pusher_spark.sinks.envelope import (
    DEFAULT_MAX_BYTES, pack_envelopes, pack_texts, record_texts,
)

__all__ = ["SqsPublisher", "PublishReport"]

logger = logging.getLogger(__name__)

_BATCH_SIZE = 10  # SQS SendMessageBatch hard cap on entries per call.


@dataclass
class PublishReport:
    messages_sent: int
    batches_sent: int
    bytes_sent: int


_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
_MICROSECOND = datetime.timedelta(microseconds=1)


def _as_row_value(dtype: DataType) -> Callable[[Any], Any] | None:
    """Converter from Arrow's Python value of a ``dtype`` column to the
    value ``Row.asDict(recursive=True)`` holds, or None where they agree.

    Arrow differs in two places: TIMESTAMP comes back tz-aware, where a
    ``Row`` holds ``TimestampType.fromInternal``'s naive local datetime,
    and MAP comes back as a list of pairs, where a ``Row`` holds a dict.
    Structs are already dicts.  Object-valued types (UDTs, VARIANT) take
    the converter Spark's own Arrow-to-``Row`` collect uses.
    """
    if isinstance(dtype, TimestampType):
        return lambda v: None if v is None else dtype.fromInternal(
            (v - _EPOCH) // _MICROSECOND)
    if isinstance(dtype, MapType):
        key = _as_row_value(dtype.keyType) or (lambda k: k)
        val = _as_row_value(dtype.valueType) or (lambda x: x)
        return lambda v: None if v is None else {
            key(k): val(x) for k, x in v}
    if isinstance(dtype, ArrayType):
        elem = _as_row_value(dtype.elementType)
        if elem is None:
            return None
        return lambda v: None if v is None else [elem(x) for x in v]
    if isinstance(dtype, StructType):
        convs = [(f.name, c) for f in dtype.fields
                 if (c := _as_row_value(f.dataType)) is not None]
        if not convs:
            return None

        def struct(v: dict[str, Any] | None) -> dict[str, Any] | None:
            if v is not None:
                for name, conv in convs:
                    v[name] = conv(v[name])
            return v
        return struct
    return ArrowTableToRowsConversion._create_converter(
        dtype, none_on_identity=True)


def _texts(df: DataFrame) -> Iterator[pa.Array]:
    """Yield ``df``'s record texts (``record_texts``), one Arrow record
    batch at a time; each record's JSON equals that of its
    ``Row.asDict(recursive=True)``.  Only the columns whose Arrow values
    differ from the ``Row`` values are encoded per value."""
    convert = {f.name: c for f in df.schema.fields
               if (c := _as_row_value(f.dataType)) is not None}
    for batch in df.toArrow().to_batches():
        yield record_texts(batch, convert)


class SqsPublisher:
    """Publish node/relation DataFrames as chunked JSON envelopes to SQS.

    ``fifo`` controls the FIFO-only parameters (MessageGroupId +
    content-hash MessageDeduplicationId): standard queues REJECT them, so
    the default follows AWS's naming contract (URL ends with ``.fifo``).
    Note the FIFO dedup window is 5 minutes: re-publishing byte-identical
    envelopes under the same tag within it is silently absorbed by SQS —
    that IS the idempotency feature, but a re-publish meant to re-deliver
    must use a fresh ``tag`` (the tag rides inside the body, changing the
    hash).
    """

    def __init__(self, queue_url: str,
                 client_factory: Callable[[], Any],
                 message_group_id: str = "metadata",
                 max_bytes: int = DEFAULT_MAX_BYTES,
                 fifo: bool | None = None) -> None:
        self.queue_url = queue_url
        self.client_factory = client_factory
        self.message_group_id = message_group_id
        self.max_bytes = max_bytes
        self.fifo = queue_url.endswith(".fifo") if fifo is None else fifo

    # -- core send path ----------------------------------------------------

    def send_bodies(self, client: Any, bodies: Iterable[str]) -> PublishReport:
        sent = batches = nbytes = 0
        entries: list[dict[str, Any]] = []

        def flush() -> None:
            nonlocal batches
            if not entries:
                return
            resp = client.send_message_batch(
                QueueUrl=self.queue_url, Entries=list(entries))
            failed = resp.get("Failed") or []
            if failed:
                raise RuntimeError(f"SQS batch send failed for "
                                   f"{len(failed)} entries: {failed[:3]}")
            batches += 1
            entries.clear()

        for i, body in enumerate(bodies):
            data = body.encode("utf-8")
            entry: dict[str, Any] = {
                "Id": str(i % _BATCH_SIZE),
                "MessageBody": body,
            }
            if self.fifo:
                entry["MessageGroupId"] = self.message_group_id
                entry["MessageDeduplicationId"] = hashlib.sha256(
                    data).hexdigest()
            entries.append(entry)
            sent += 1
            nbytes += len(data)
            if len(entries) == _BATCH_SIZE:
                flush()
        flush()
        return PublishReport(sent, batches, nbytes)

    # -- driver-side (metadata-sized) -------------------------------------

    def publish_collected(self, nodes: DataFrame, relations: DataFrame,
                          tag: str) -> PublishReport:
        """Collect + pack + send from the driver.  Correct choice when the
        output is metadata-sized (the reference's regime); raises early,
        before any send, if a single record exceeds the envelope budget.

        Memory profile: each frame is collected as Arrow record batches
        (``toArrow``), lazily, when the packer reaches it.  Each batch's
        columns become one Arrow text array of record JSON; string,
        integer and boolean columns never leave Arrow.  Besides one
        frame's Arrow columns the driver holds those text buffers, and
        each body is sliced from them — no ``Row``, dict or string is
        made per record.
        The bodies are byte-identical to packing
        ``collect()`` + ``asDict(recursive=True)`` records."""
        bodies = pack_texts(_texts(nodes), _texts(relations), tag,
                            self.max_bytes)
        report = self.send_bodies(self.client_factory(), bodies)
        logger.info("published %d messages in %d batches (%d bytes) tag=%s",
                    report.messages_sent, report.batches_sent,
                    report.bytes_sent, tag)
        return report

    # -- executor-side (scale) --------------------------------------------

    def publish_distributed(self, nodes: DataFrame, relations: DataFrame,
                            tag: str) -> None:
        """foreachPartition send: each executor packs its own partition into
        envelopes and sends them.  Chunk indices are per-partition (chunk
        ids are only unique within (tag, partition)); global ordering is
        not promised — consumers key on (tag, dedup id)."""
        queue_url = self.queue_url
        group_id = self.message_group_id
        max_bytes = self.max_bytes
        factory = self.client_factory
        fifo = self.fifo

        def send_partition(kind: str):
            def _send(rows) -> None:
                recs = (r.asDict(recursive=True) for r in rows)
                if kind == "nodes":
                    bodies = pack_envelopes(recs, [], tag, max_bytes)
                else:
                    bodies = pack_envelopes([], recs, tag, max_bytes)
                pub = SqsPublisher(queue_url, factory, group_id,
                                   max_bytes, fifo=fifo)
                pub.send_bodies(factory(), bodies)
            return _send

        nodes.foreachPartition(send_partition("nodes"))
        relations.foreachPartition(send_partition("relations"))
