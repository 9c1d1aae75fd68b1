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

There is one packing core, ``pack_texts``.  Its input is each record's
JSON text plus a trailing comma, held in Arrow ``large_string`` arrays:
a record's size is its byte length from the array offsets (the comma is
the separator byte ``_record_size`` adds), chunk boundaries are picked
over all sizes at once, and each body is the chunk's slices of the data
buffers wrapped in the sorted-key envelope.  ``record_texts`` builds the
texts column by column with ``pyarrow.compute`` kernels;
``pack_envelopes`` is the adapter for records given as dicts.
``envelope_json`` and ``_record_size`` remain the reference definition
of the bytes; both entries are byte-identical to them.

This module is pure (records in, JSON strings out) so it is golden-testable
without any AWS dependency; the Spark-facing side lives in sinks/sqs.py.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Iterator, Mapping
from itertools import islice
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

__all__ = ["SQS_HARD_LIMIT", "DEFAULT_MAX_BYTES", "pack_envelopes",
           "pack_texts", "record_texts", "envelope_json"]

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

#: The Arrow type of record texts: 64-bit offsets, so a batch of texts
#: never overflows.
_TEXT = pa.large_string()

#: Record texts and their intermediates come from the C allocator that
#: Python's own large objects use, so the driver reuses their memory as
#: soon as they are freed.  Arrow's default jemalloc pool holds freed
#: pages for about a second.  A driver that published 85,807 nodes and
#: 83,147 relations and then parsed every body peaked at 276-282 MB RSS
#: with that pool, and at 250-251 MB with this one.
_POOL = pa.system_memory_pool()

#: The characters a JSON string escapes, each with its escape as the
#: encoder writes it (``\n``-style where JSON has one, lower-case
#: ``\u00xx`` otherwise).  The backslash comes first, so no later escape
#: is escaped again.
_ESCAPES = [(c, _encode(c)[1:-1])
            for c in ["\\", '"'] + [chr(i) for i in range(0x20)]]


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


# -- record texts ------------------------------------------------------------

def _offsets(texts: pa.Array) -> np.ndarray:
    """The ``len(texts) + 1`` data-buffer offsets of a ``large_string``
    array."""
    offsets = np.frombuffer(texts.buffers()[1], np.int64)
    return offsets[texts.offset:texts.offset + len(texts) + 1]


def _value_bytes(texts: pa.Array) -> np.ndarray:
    """The UTF-8 bytes of all values of a ``large_string`` array, as one
    uint8 view of its data buffer."""
    data = texts.buffers()[2]
    if data is None or not len(texts):
        return np.zeros(0, np.uint8)
    offsets = _offsets(texts)
    return np.frombuffer(data, np.uint8)[offsets[0]:offsets[-1]]


def _lit(text: str) -> pa.Scalar:
    return pa.scalar(text, _TEXT)


def _string_json(col: pa.Array) -> pa.Array:
    """JSON string literals of a string column, escaped as the encoder
    escapes them (``_ESCAPES``, in order).

    An escape pass runs only for a character the column's UTF-8 bytes
    hold.  In UTF-8 a byte below 0x20, or a quote or backslash byte, is
    always that character itself, and finding them in the bytes costs a
    twentieth of a ``match_substring_regex`` over the values."""
    col = pc.cast(col, _TEXT, memory_pool=_POOL)
    raw = _value_bytes(col)
    present = np.bincount(raw[(raw < 0x20) | (raw == ord('"'))
                              | (raw == ord("\\"))], minlength=0x80)
    for char, escape in _ESCAPES:
        if present[ord(char)]:
            col = pc.replace_substring(col, char, escape, memory_pool=_POOL)
    return pc.binary_join_element_wise(_lit('"'), col, _lit('"'), _lit(""),
                                       memory_pool=_POOL)


def _column_json(col: pa.Array,
                 convert: Callable[[Any], Any] | None) -> pa.Array:
    """One JSON fragment per value of ``col``, NULL where it is NULL.

    Strings, integers and booleans go through compute kernels.  Any
    other type, or a column with a ``convert``er, is encoded per value
    (``convert`` first) with the record encoder itself, which writes
    ``null`` for NULL."""
    t = col.type
    if convert is None and (pa.types.is_string(t)
                            or pa.types.is_large_string(t)):
        return _string_json(col)
    if convert is None and (pa.types.is_integer(t)
                            or pa.types.is_boolean(t)):
        return pc.cast(col, _TEXT, memory_pool=_POOL)
    values = col.to_pylist()
    if convert is not None:
        values = map(convert, values)
    return pa.array([_encode(v) for v in values], _TEXT, memory_pool=_POOL)


def record_texts(batch: pa.RecordBatch,
                 convert: Mapping[str, Callable[[Any], Any]] | None = None
                 ) -> pa.Array:
    """Each row of ``batch`` as the encoder's JSON of its ``to_pylist()``
    dict, plus a trailing comma, in one ``large_string`` array.

    The columns are joined element-wise in sorted name order, with the
    encoded names as literal pieces between them; a NULL fragment joins
    as ``null``.  A repeated column name keeps its last column, as the
    row dict does.  ``convert`` maps a column name to a function applied
    to each of its Python values before encoding."""
    columns = dict(zip(batch.schema.names, batch.columns))
    convert = convert or {}
    pieces: list[Any] = []
    sep = "{"
    for name in sorted(columns):
        pieces += [_lit(sep + _encode(name) + ":"),
                   _column_json(columns[name], convert.get(name))]
        sep = ","
    if not pieces:
        return pa.array(["{},"] * batch.num_rows, _TEXT, memory_pool=_POOL)
    return pc.binary_join_element_wise(
        *pieces, _lit("},"), _lit(""), null_handling="replace",
        null_replacement="null", memory_pool=_POOL)


# -- packing core ------------------------------------------------------------

def _sizes(texts: pa.ChunkedArray) -> np.ndarray:
    return np.concatenate([np.zeros(0, np.int64)] + [
        np.diff(_offsets(a)) for a in texts.chunks if len(a)])


def _slices(texts: pa.ChunkedArray, start: int, stop: int
            ) -> list[np.ndarray]:
    """Records ``start:stop`` of ``texts`` as zero-copy views of the data
    buffers, their last trailing comma dropped: one JSON array body."""
    if stop <= start:
        return []
    parts = [_value_bytes(a)
             for a in texts.slice(start, stop - start).chunks if len(a)]
    parts[-1] = parts[-1][:-1]
    return parts


def pack_texts(nodes: Iterable[pa.Array], relations: Iterable[pa.Array],
               tag: str, max_bytes: int = DEFAULT_MAX_BYTES) -> Iterator[str]:
    """Greedy-pack record texts into JSON envelope strings, each
    <= max_bytes.

    ``nodes`` and ``relations`` are ``large_string`` arrays of record
    texts as ``record_texts`` builds them: each record's JSON plus a
    trailing comma.  A chunk may span arrays, and may run from the last
    nodes into the first relations.

    A single record larger than the budget raises ValueError — the
    caller must split the record (the reference would instead fail at the
    SQS API with an opaque error; we fail early with the offending size).
    Every text is consumed, and every size checked, before the first body
    is yielded.
    """
    base_overhead = len(envelope_json([], [], 0, 10 ** 9, tag).encode("utf-8"))
    budget = max_bytes - base_overhead
    if budget <= 0:
        raise ValueError(f"max_bytes={max_bytes} leaves no record budget")

    node_texts = pa.chunked_array(list(nodes), _TEXT)
    rel_texts = pa.chunked_array(list(relations), _TEXT)
    n_nodes = len(node_texts)
    sizes = np.concatenate([_sizes(node_texts), _sizes(rel_texts)])
    over = np.flatnonzero(sizes > budget)
    if over.size:
        i = int(over[0])
        kind = "nodes" if i < n_nodes else "relations"
        raise ValueError(
            f"single {kind} record of {int(sizes[i])} bytes exceeds the "
            f"{budget}-byte envelope budget; split the record")

    # Greedy: each chunk takes records while their running total fits.
    ends = np.cumsum(sizes)
    bounds = [0]
    while bounds[-1] < len(sizes):
        start = bounds[-1]
        filled = int(ends[start - 1]) if start else 0
        bounds.append(int(np.searchsorted(ends, filled + budget, "right")))

    total = len(bounds) - 1
    tail = f'],"tag":{_encode(tag)}}}'.encode("utf-8")
    for i, (start, stop) in enumerate(zip(bounds, bounds[1:])):
        # sorted keys: chunk, nodes, of, relations, tag
        data = b"".join([
            f'{{"chunk":{i},"nodes":['.encode("utf-8"),
            *_slices(node_texts, start, min(stop, n_nodes)),
            f'],"of":{total},"relations":['.encode("utf-8"),
            *_slices(rel_texts, max(start - n_nodes, 0), stop - n_nodes),
            tail])
        assert len(data) <= max_bytes, "packing invariant violated"
        yield data.decode("utf-8")


def _dict_texts(records: Iterable[dict[str, Any]]) -> Iterator[pa.Array]:
    it = iter(records)
    while texts := [_encode(r) + "," for r in islice(it, 4096)]:
        yield pa.array(texts, _TEXT, memory_pool=_POOL)


def pack_envelopes(nodes: Iterable[dict[str, Any]],
                   relations: Iterable[dict[str, Any]],
                   tag: str,
                   max_bytes: int = DEFAULT_MAX_BYTES) -> Iterator[str]:
    """``pack_texts`` over records given as dicts: each is encoded once,
    with its trailing comma, into Arrow text arrays of 4,096 records."""
    return pack_texts(_dict_texts(nodes), _dict_texts(relations), tag,
                      max_bytes)
