"""Pure-Python correctness checks for every benchmark output.

Each check returns a list of problems; an empty list means the output is
correct.  None of them import Spark, so ``perfbench/tests`` can feed them
deliberately corrupted outputs.
"""

from __future__ import annotations

import hashlib
import json
import math
from collections import Counter

SQS_HARD_LIMIT = 256 * 1024
SQS_BATCH_CAP = 10


# -- catalog push ------------------------------------------------------------

def catalog_oracle(rows: dict[str, list]) -> dict:
    """Expected graph of one generated catalog: node keys (with the
    description text each Description node must carry) and relation
    triples, built the way the extractor + graph operators define them."""
    nodes: dict[str, str | None] = {}
    relations: set[tuple[str, str, str]] = set()
    for db, cl, sc, tb, tdesc, col, cdesc in zip(
            rows["td_database"], rows["table_catalog"], rows["table_schema"],
            rows["table_name"], rows["table_description"], rows["col_name"],
            rows["col_description"]):
        tkey = f"{db}://{cl}.{sc.lower()}/{tb.lower()}"
        ckey = f"{tkey}/{col.lower()}"
        nodes[tkey] = None
        nodes[ckey] = None
        relations.add((tkey, ckey, "COLUMN"))
        if tdesc:
            nodes[f"{tkey}/_description"] = tdesc
            relations.add((tkey, f"{tkey}/_description", "DESCRIPTION"))
        if cdesc:
            nodes[f"{ckey}/_description"] = cdesc
            relations.add((ckey, f"{ckey}/_description", "DESCRIPTION"))
    return {"nodes": nodes, "relations": relations}


class StubSqsClient:
    """In-process SQS stand-in: validates each SendMessageBatch call the
    way the service would reject it and keeps the entries for the
    after-the-fact envelope check."""

    def __init__(self, queue_url: str) -> None:
        self.queue_url = queue_url
        self.entries: list[dict] = []
        self.problems: list[str] = []

    def send_message_batch(self, QueueUrl: str, Entries: list[dict]) -> dict:
        if QueueUrl != self.queue_url:
            self.problems.append(f"wrong queue {QueueUrl!r}")
        if not 1 <= len(Entries) <= SQS_BATCH_CAP:
            self.problems.append(f"batch of {len(Entries)} entries")
        if len({e["Id"] for e in Entries}) != len(Entries):
            self.problems.append("duplicate entry ids in one batch")
        self.entries.extend(Entries)
        return {"Successful": [{"Id": e["Id"]} for e in Entries],
                "Failed": []}


def check_push(oracle: dict, entries: list[dict], tag: str,
               fifo: bool = True) -> list[str]:
    """Envelope and content check of one database's published messages."""
    problems: list[str] = []
    chunks: list[int] = []
    ofs: set[int] = set()
    seen_nodes: Counter = Counter()
    seen_rels: Counter = Counter()
    for e in entries:
        body = e["MessageBody"]
        raw = body.encode("utf-8")
        if len(raw) > SQS_HARD_LIMIT:
            problems.append(f"body of {len(raw)} bytes > {SQS_HARD_LIMIT}")
        if fifo and e.get("MessageDeduplicationId") != \
                hashlib.sha256(raw).hexdigest():
            problems.append("dedup id is not sha256(body)")
        if fifo and not e.get("MessageGroupId"):
            problems.append("missing MessageGroupId")
        env = json.loads(body)
        if env.get("tag") != tag:
            problems.append(f"tag {env.get('tag')!r} != {tag!r}")
        chunks.append(env["chunk"])
        ofs.add(env["of"])
        for n in env["nodes"]:
            seen_nodes[n["key"]] += 1
            want = oracle["nodes"].get(n["key"], None)
            if n["label"] == "Description" and n["description"] != want:
                problems.append(f"description of {n['key']} differs")
        for r in env["relations"]:
            seen_rels[(r["start_key"], r["end_key"], r["type"])] += 1
    if ofs != {len(entries)}:
        problems.append(f"'of' values {sorted(ofs)} for {len(entries)} "
                        f"messages")
    if sorted(chunks) != list(range(len(entries))):
        problems.append("chunk indices are not 0..n-1")
    dup_n = [k for k, c in seen_nodes.items() if c > 1]
    dup_r = [k for k, c in seen_rels.items() if c > 1]
    if dup_n or dup_r:
        problems.append(f"{len(dup_n)} duplicate nodes, {len(dup_r)} "
                        f"duplicate relations")
    if set(seen_nodes) != set(oracle["nodes"]):
        problems.append(
            f"node keys: {len(set(oracle['nodes']) - set(seen_nodes))} "
            f"missing, {len(set(seen_nodes) - set(oracle['nodes']))} extra")
    if set(seen_rels) != oracle["relations"]:
        problems.append(
            f"relations: {len(oracle['relations'] - set(seen_rels))} "
            f"missing, {len(set(seen_rels) - oracle['relations'])} extra")
    return problems


# -- corpus operators --------------------------------------------------------

def check_exact_groups(expected: dict[str, tuple[int, int]],
                       got: list[tuple[str, int, int]]) -> list[str]:
    """``exact_dedup_keep_min`` rows (md5, kept_id, n_copies) against the
    hashlib count of the inputs."""
    got_map = {h: (k, n) for h, k, n in got}
    if len(got_map) != len(got):
        return ["duplicate digests in the output"]
    if got_map != expected:
        diff = set(got_map.items()) ^ set(expected.items())
        return [f"{len(diff)} exact-dedup groups differ from hashlib"]
    return []


def planted_recall(planted: list[tuple[int, int]],
                   got: set[tuple[int, int]]) -> tuple[float, float]:
    """(recall of the planted pairs, planted pairs found / pairs emitted)."""
    want = {(min(a, b), max(a, b)) for a, b in planted}
    found = len(want & got)
    return found / max(1, len(want)), found / max(1, len(got))


# -- registry queries --------------------------------------------------------

def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if type(v).__name__ == "Decimal":
        return float(v)
    return v


def normalize(cols: list[str], rows: list) -> list[tuple]:
    """Order-insensitive, column-order-insensitive, 6-digit float form:
    the registry's oracle-parity comparison."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return out


def check_query(spark_cols: list[str], spark_rows: list,
                oracle_cols: list[str], oracle_rows: list) -> list[str]:
    if sorted(spark_cols) != sorted(oracle_cols):
        return [f"columns {sorted(spark_cols)} != {sorted(oracle_cols)}"]
    if len(spark_rows) != len(oracle_rows):
        return [f"{len(spark_rows)} rows != oracle {len(oracle_rows)}"]
    if normalize(spark_cols, spark_rows) != normalize(oracle_cols,
                                                      oracle_rows):
        return ["values differ from the oracle"]
    return []
