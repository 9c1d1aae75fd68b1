"""Generate the golden output-contract files (SURVEY.md §5.2): the exact
bytes of the legacy CSV staging layout, and the exact envelope-chunk JSON
strings that ``SqsPublisher.publish_collected`` sends, for the sf0.001
fixture catalog.

Run once after an INTENTIONAL contract change:
    python scripts/gen_goldens.py
then review the diff — tests/test_golden.py pins these bytes.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

GOLDEN = REPO / "tests" / "golden"
SF_DIR = "/root/testdata/sf0.001"


def build(spark, tmp_dir: str) -> dict[str, str]:
    """Render all golden artifacts; returns {filename: content}."""
    from ab_metadata_pusher_spark.operators.graph import (
        to_nodes, to_relations,
    )
    from ab_metadata_pusher_spark.operators.metadata import table_metadata
    from ab_metadata_pusher_spark.sinks.sqs import SqsPublisher
    from ab_metadata_pusher_spark.sinks.staging import StagingArea
    from ab_metadata_pusher_spark.sources.catalog import catalog_columns

    tm = table_metadata(catalog_columns(spark, SF_DIR))
    nodes = to_nodes(tm).orderBy("label", "key")
    rels = to_relations(tm).orderBy("start_key", "end_key", "type")

    area = StagingArea(tmp_dir)
    area.write_legacy_csv(nodes, rels)

    def csv_bytes(path: str) -> str:
        parts = sorted(Path(path).glob("part-*.csv"))
        assert len(parts) == 1, parts
        return parts[0].read_text()

    class _Client:
        """An SQS client that keeps every message body, in send order."""

        def __init__(self) -> None:
            self.bodies: list[str] = []

        def send_message_batch(self, QueueUrl, Entries):
            self.bodies.extend(e["MessageBody"] for e in Entries)
            return {}

    client = _Client()
    SqsPublisher("golden", lambda: client, max_bytes=4096) \
        .publish_collected(nodes, rels, tag="golden")
    chunks = client.bodies
    return {
        "nodes_legacy.csv": csv_bytes(f"{area.nodes_dir}_csv"),
        "relations_legacy.csv": csv_bytes(f"{area.relations_dir}_csv"),
        "envelope_chunks.json": json.dumps(chunks, indent=1),
    }


def main() -> None:
    import tempfile

    from ab_metadata_pusher_spark.session import get_spark

    spark = get_spark(app_name="gen-goldens",
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    GOLDEN.mkdir(parents=True, exist_ok=True)
    with tempfile.TemporaryDirectory() as td:
        for name, content in build(spark, td).items():
            (GOLDEN / name).write_text(content)
            print(f"wrote tests/golden/{name} ({len(content)} bytes)")


if __name__ == "__main__":
    main()
