"""Each oracle accepts a correct output and rejects a corrupted one."""

import hashlib
import json

import gen
import oracles

from ab_metadata_pusher_spark.sinks.envelope import pack_envelopes

TAG = "t1"


def _graph_records(db):
    """Node and relation records as the graph operators shape them,
    derived from the oracle (keys are all a check looks at)."""
    want = oracles.catalog_oracle(db.rows)
    nodes = [{"label": "Description" if k.endswith("/_description")
              else "Node", "key": k, "description": d or ""}
             for k, d in sorted(want["nodes"].items(), key=lambda kv: kv[0])]
    rels = [{"start_key": s, "end_key": e, "type": t}
            for s, e, t in sorted(want["relations"])]
    return want, nodes, rels


def _entries(bodies):
    return [{"Id": str(i % 10), "MessageBody": b, "MessageGroupId": "g",
             "MessageDeduplicationId": hashlib.sha256(
                 b.encode("utf-8")).hexdigest()}
            for i, b in enumerate(bodies)]


def _push():
    db = gen.catalog_db(2, 1, 80)
    want, nodes, rels = _graph_records(db)
    return want, _entries(list(pack_envelopes(nodes, rels, TAG)))


def test_correct_push_passes():
    want, entries = _push()
    assert len(entries) > 1
    assert oracles.check_push(want, entries, TAG) == []


def test_oversize_envelope_is_rejected():
    want, entries = _push()
    env = json.loads(entries[0]["MessageBody"])
    env["nodes"][0]["description"] = "x" * oracles.SQS_HARD_LIMIT
    entries[0] = _entries([json.dumps(env)])[0]
    assert any("bytes >" in p for p in oracles.check_push(want, entries, TAG))


def test_dropped_node_is_rejected():
    want, entries = _push()
    env = json.loads(entries[0]["MessageBody"])
    env["nodes"].pop()
    body = json.dumps(env, ensure_ascii=False)
    entries[0] = {**_entries([body])[0], "Id": entries[0]["Id"]}
    assert any("missing" in p for p in oracles.check_push(want, entries, TAG))


def test_wrong_dedup_id_tag_and_chunking_are_rejected():
    want, entries = _push()
    bad = [dict(e) for e in entries]
    bad[0]["MessageDeduplicationId"] = "0" * 64
    assert oracles.check_push(want, bad, TAG) == [
        "dedup id is not sha256(body)"]
    assert any("tag" in p for p in oracles.check_push(want, entries, "t2"))
    assert any("'of'" in p for p in oracles.check_push(want, entries[1:],
                                                        TAG))


def test_stub_client_rejects_oversized_batches():
    client = oracles.StubSqsClient("q")
    client.send_message_batch("q", [{"Id": str(i)} for i in range(11)])
    assert client.problems == ["batch of 11 entries"]


def test_wrong_query_row_is_rejected():
    cols = ["b", "a"]
    rows = [(1.0000001, "x"), (None, "y")]
    oracle_rows = [("y", None), ("x", 1.0)]
    assert oracles.check_query(cols, rows, ["a", "b"], oracle_rows) == []
    assert oracles.check_query(cols, rows, ["a", "b"],
                               [("y", None), ("x", 2.0)]) == [
        "values differ from the oracle"]
    assert oracles.check_query(cols, rows[:1], ["a", "b"], oracle_rows)


def test_exact_groups_and_recall():
    shard = gen.corpus_shard(1, 0, n_docs=100, n_vectors=10)
    expected = gen.exact_groups(shard.docs)
    rows = [(h, k, n) for h, (k, n) in expected.items()]
    assert oracles.check_exact_groups(expected, rows) == []
    h, k, n = rows[0]
    assert oracles.check_exact_groups(expected, [(h, k, n + 1)] + rows[1:])
    pairs = [(3, 1), (4, 2)]
    assert oracles.planted_recall(pairs, {(1, 3), (5, 6)}) == (0.5, 0.5)
