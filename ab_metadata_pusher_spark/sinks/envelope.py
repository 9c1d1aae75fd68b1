"""JSON envelope assembly with SQS-aware chunking.

The reference publishes ALL node + relation records as ONE SQS message
``json.dumps({'nodes': [...], 'relations': [...]})``
(reference: publisher/aws_sqs_csv_puiblisher.py:107-138) and merely
*documents* the ~250 KB limit — an oversize payload just raises (:141-143).

Here the envelope is a first-class, size-enforced format::

    {"nodes": [...], "relations": [...], "chunk": i, "of": n, "tag": t}

Records are greedy-packed so each serialized message stays under the hard
AWS SQS bound (256 KiB) minus headroom; nodes are packed before relations
(preserving the reference's ordering contract, :112-125).  Chunk count is
only known at the end, so packing is two-phase: pack -> stamp ``of``.

Each record is serialized exactly once: the packer sizes it from that
JSON string and keeps only the string, then joins the kept strings into
the envelope.  ``envelope_json`` and ``_record_size`` remain the reference
definition of the bytes; ``pack_envelopes`` is byte-identical to them.

This module is pure (records in, JSON strings out) so it is golden-testable
without any AWS dependency; the Spark-facing side lives in sinks/sqs.py.
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Iterator
from typing import Any

__all__ = ["SQS_HARD_LIMIT", "DEFAULT_MAX_BYTES", "pack_envelopes",
           "envelope_json"]

#: AWS SQS maximum message size (262,144 bytes).
SQS_HARD_LIMIT = 256 * 1024

#: Default packing bound: hard limit minus headroom for the chunk/of/tag
#: fields and message attributes.
DEFAULT_MAX_BYTES = SQS_HARD_LIMIT - 4 * 1024


#: The one JSON encoding of records and envelopes: compact, sorted keys
#: (byte-stable dedup ids), raw UTF-8.  ensure_ascii=False keeps the byte
#: accounting true: the default \uXXXX escaping would charge 6 ASCII
#: bytes per escaped char while serializing DIFFERENT bytes than a
#: raw-UTF-8 consumer (or the DuckDB to_json oracle in
#: sink_envelope_chunking) measures.
_JSON_OPTS: dict[str, Any] = {"separators": (",", ":"), "sort_keys": True,
                              "ensure_ascii": False, "default": str}
_encode = json.JSONEncoder(**_JSON_OPTS).encode


def _record_size(record: dict[str, Any]) -> int:
    # +1 for the comma separator in a JSON array; sizes are UTF-8 bytes
    # (SQS limits are byte limits, and non-ASCII inflates past len(str)).
    return len(json.dumps(record, **_JSON_OPTS).encode("utf-8")) + 1


def envelope_json(nodes: list[dict[str, Any]], relations: list[dict[str, Any]],
                  chunk: int, of: int, tag: str) -> str:
    """Serialize one envelope deterministically (sorted keys, compact,
    raw UTF-8 — non-ASCII is emitted as-is, not \\uXXXX-escaped, so the
    byte accounting in ``_record_size``/``pack_envelopes`` matches what
    actually goes over the wire)."""
    return json.dumps(
        {"nodes": nodes, "relations": relations, "chunk": chunk, "of": of,
         "tag": tag}, **_JSON_OPTS)


def pack_envelopes(nodes: Iterable[dict[str, Any]],
                   relations: Iterable[dict[str, Any]],
                   tag: str,
                   max_bytes: int = DEFAULT_MAX_BYTES) -> Iterator[str]:
    """Greedy-pack records into JSON envelope strings, each <= max_bytes.

    A single record larger than ``max_bytes`` raises ValueError — the
    caller must split the record (the reference would instead fail at the
    SQS API with an opaque error; we fail early with the offending size).
    Every record is consumed, and that check made, before the first body
    is yielded.

    Each record is serialized once; only its JSON string is kept, and a
    body is those strings joined into the sorted-key envelope — the same
    bytes as ``envelope_json`` over the records themselves.
    """
    base_overhead = len(envelope_json([], [], 0, 10 ** 9, tag).encode("utf-8"))
    budget = max_bytes - base_overhead
    if budget <= 0:
        raise ValueError(f"max_bytes={max_bytes} leaves no record budget")

    chunks: list[tuple[list[str], list[str]]] = []
    cur_nodes: list[str] = []
    cur_rels: list[str] = []
    cur_size = 0

    def flush() -> None:
        nonlocal cur_nodes, cur_rels, cur_size
        if cur_nodes or cur_rels:
            chunks.append((cur_nodes, cur_rels))
            cur_nodes, cur_rels, cur_size = [], [], 0

    for kind, records in (("nodes", nodes), ("relations", relations)):
        for record in records:
            text = _encode(record)
            size = len(text.encode("utf-8")) + 1
            if size > budget:
                raise ValueError(
                    f"single {kind} record of {size} bytes exceeds the "
                    f"{budget}-byte envelope budget; split the record")
            if cur_size + size > budget:
                flush()
            (cur_nodes if kind == "nodes" else cur_rels).append(text)
            cur_size += size
    flush()

    total = len(chunks)
    tag_json = _encode(tag)
    for i, (ns, rs) in enumerate(chunks):
        # sorted keys: chunk, nodes, of, relations, tag
        body = (f'{{"chunk":{i},"nodes":[{",".join(ns)}],"of":{total},'
                f'"relations":[{",".join(rs)}],"tag":{tag_json}}}')
        assert len(body.encode("utf-8")) <= max_bytes, "packing invariant violated"
        yield body
