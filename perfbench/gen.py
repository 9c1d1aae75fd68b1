"""Seeded input generators for the benchmark workloads.

Every generator takes an integer seed and returns plain Python / numpy /
pyarrow data; the same seed gives byte-identical parquet files (the tests
in ``perfbench/tests`` pin that).  Sizes are chosen so that the run-to-run
spread across seeds stays small: the *shape* of each input (how many
tables, how many vectors, which size quantiles) is fixed, and the seed
moves only the content.  Each property's reason is recorded in
``INPUT_FACTS`` and copied into every result.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- catalog fleet -----------------------------------------------------------

#: The log-normal the fleet's table counts follow, and the quantiles it
#: is sampled at.  Three pushes sit at the middle quantiles and are bound
#: by the per-push Spark floor (about 2.5 s whatever the size); the fourth
#: sits at the 98th percentile, about 2.7k tables, where collecting and
#: packing the graph in the driver dominates the push.  Every seed pushes
#: the same table counts; only names and descriptions move.
FLEET_QUANTILES = (0.375, 0.625, 0.875, 0.98)
FLEET_LOGNORMAL_MU = 4.6         # median ~100 tables
FLEET_LOGNORMAL_SIGMA = 1.6
FLEET_MIN_TABLES = 10
FLEET_MAX_TABLES = 5000
COLUMNS_PER_TABLE = (3, 45)      # uniform, mean ~24
DESCRIPTION_RATE = 0.30
EMPTY_DESCRIPTION_SHARE = 0.25   # of the absent ones: '' instead of NULL
VIEW_RATE = 0.10

_WORDS = ("order", "customer", "line", "item", "event", "user", "session",
          "invoice", "payment", "ledger", "account", "product", "stock",
          "region", "price", "audit", "log", "metric", "score", "batch")
#: Description vocabulary: ASCII plus multi-byte UTF-8 (2-, 3- and 4-byte
#: sequences) so envelope byte accounting is exercised on non-ASCII text.
_DESC_WORDS = ("customer", "orders", "données", "clé", "numéro", "表",
               "顧客", "注文", "Straße", "größe", "ключ", "заказ", "🙂",
               "total", "amount", "date", "状態", "ñandú", "id", "value")
_COL_TYPES = ("bigint", "int", "varchar", "text", "double", "decimal",
              "timestamp", "date", "boolean", "json")

CATALOG_SCHEMA = pa.schema([
    pa.field("td_database", pa.string(), False),
    pa.field("table_catalog", pa.string(), False),
    pa.field("table_schema", pa.string(), False),
    pa.field("table_name", pa.string(), False),
    pa.field("table_description", pa.string(), True),
    pa.field("col_name", pa.string(), False),
    pa.field("col_type", pa.string(), False),
    pa.field("col_description", pa.string(), True),
    pa.field("col_sort_order", pa.int32(), False),
    pa.field("is_view", pa.bool_(), False),
])


def fleet_table_counts() -> list[int]:
    """Log-normal table counts at ``FLEET_QUANTILES``, smallest first."""
    nd = NormalDist(FLEET_LOGNORMAL_MU, FLEET_LOGNORMAL_SIGMA)
    return [int(min(FLEET_MAX_TABLES,
                    max(FLEET_MIN_TABLES, round(np.exp(nd.inv_cdf(q))))))
            for q in FLEET_QUANTILES]


@dataclass
class CatalogDb:
    """One generated database: its catalog rows and the facts an oracle
    needs (database/cluster names and the rows themselves)."""
    name: str
    database: str
    cluster: str
    rows: dict[str, list] = field(repr=False)

    @property
    def n_tables(self) -> int:
        return len({(s, t) for s, t in zip(self.rows["table_schema"],
                                           self.rows["table_name"])})

    @property
    def n_columns(self) -> int:
        return len(self.rows["col_name"])


def _description(rng: np.random.Generator) -> str | None:
    if rng.random() < DESCRIPTION_RATE:
        k = int(rng.integers(2, 9))
        return " ".join(_DESC_WORDS[i] for i in rng.integers(
            0, len(_DESC_WORDS), k))
    return "" if rng.random() < EMPTY_DESCRIPTION_SHARE else None


def _mixed_case(rng: np.random.Generator, s: str) -> str:
    # Source catalogs carry mixed case; the extractor lower-cases names,
    # so names are generated unique AFTER lower-casing.
    return s.upper() if rng.random() < 0.15 else (
        s.capitalize() if rng.random() < 0.15 else s)


def catalog_db(seed: int, index: int, n_tables: int) -> CatalogDb:
    rng = np.random.default_rng([seed, 1, index])
    database = ("mysql", "postgres")[index % 2]
    cluster = f"cluster{index}"
    schemas = [f"schema_{i}" for i in range(1 + n_tables // 400)]
    rows: dict[str, list] = {f.name: [] for f in CATALOG_SCHEMA}
    for t in range(n_tables):
        words = rng.integers(0, len(_WORDS), 2)
        table = f"{_WORDS[words[0]]}_{_WORDS[words[1]]}_{t}"
        schema = schemas[t % len(schemas)]
        t_desc = _description(rng)
        is_view = bool(rng.random() < VIEW_RATE)
        n_cols = int(rng.integers(COLUMNS_PER_TABLE[0],
                                  COLUMNS_PER_TABLE[1] + 1))
        s_name, t_name = _mixed_case(rng, schema), _mixed_case(rng, table)
        for c in range(n_cols):
            rows["td_database"].append(database)
            rows["table_catalog"].append(cluster)
            rows["table_schema"].append(s_name)
            rows["table_name"].append(t_name)
            rows["table_description"].append(t_desc)
            rows["col_name"].append(_mixed_case(
                rng, f"{_WORDS[int(rng.integers(0, len(_WORDS)))]}_{c}"))
            rows["col_type"].append(
                _COL_TYPES[int(rng.integers(0, len(_COL_TYPES)))])
            rows["col_description"].append(_description(rng))
            rows["col_sort_order"].append(c + 1)
            rows["is_view"].append(is_view)
    return CatalogDb(f"db{index:02d}", database, cluster, rows)


def catalog_fleet(seed: int) -> list[CatalogDb]:
    return [catalog_db(seed, i, n)
            for i, n in enumerate(fleet_table_counts())]


def write_catalog(db: CatalogDb, path: str) -> int:
    """Write one database's catalog rows as the parquet that stands in for
    the JDBC result; returns the file size in bytes."""
    write_parquet(pa.table(db.rows, schema=CATALOG_SCHEMA), path)
    return os.path.getsize(path)


# -- sharded corpus ----------------------------------------------------------

EMBED_DIM = 64
VOCAB_SIZE = 4000
ZIPF_S = 1.1
DOC_TOKENS = (40, 160)
NEAR_DUP_RATE = 0.20     # share of docs / vectors that are planted copies
EXACT_DUP_SHARE = 0.25   # of the planted docs: byte-identical copies
MUTATE_RATE = 0.03       # token substitutions in a near-duplicate doc
VECTOR_NOISE = 0.02      # relative noise of a planted vector copy


def _vocab() -> list[str]:
    # Fixed (seed-independent) vocabulary: word i is the same string in
    # every shard, so Zipf rank -> word is stable across runs.
    return [f"w{i}" for i in range(VOCAB_SIZE)]


@dataclass
class Shard:
    index: int
    docs: pa.Table
    vectors: pa.Table
    #: (source, copy) doc-id pairs planted as near/exact duplicates
    doc_pairs: list[tuple[int, int]]
    #: (source, copy) vec-id pairs planted as near duplicates
    vec_pairs: list[tuple[int, int]]


def corpus_shard(seed: int, index: int, n_docs: int,
                 n_vectors: int) -> Shard:
    """One shard of documents and embeddings.  Ids are offset by the
    shard index so no two shards share a row."""
    rng = np.random.default_rng([seed, 2, index])
    vocab = _vocab()
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()

    base = index * 1_000_000
    n_planted = int(n_docs * NEAR_DUP_RATE)
    n_orig = n_docs - n_planted
    texts: list[str] = []
    for _ in range(n_orig):
        n_tok = int(rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1))
        texts.append(" ".join(vocab[i] for i in rng.choice(
            VOCAB_SIZE, n_tok, p=p)))
    doc_pairs = []
    sources = rng.choice(n_orig, n_planted, replace=False)
    for j, src in enumerate(sources):
        toks = texts[src].split(" ")
        if j >= int(n_planted * EXACT_DUP_SHARE):
            for pos in rng.choice(len(toks), max(1, int(len(toks)
                                                        * MUTATE_RATE)),
                                  replace=False):
                toks[pos] = vocab[int(rng.integers(0, VOCAB_SIZE))]
        texts.append(" ".join(toks))
        doc_pairs.append((base + int(src), base + n_orig + j))
    docs = pa.table({
        "doc_id": pa.array(np.arange(base, base + n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
    })

    v_planted = int(n_vectors * NEAR_DUP_RATE)
    v_orig = n_vectors - v_planted
    vecs = rng.standard_normal((n_vectors, EMBED_DIM)).astype(np.float32)
    v_src = rng.choice(v_orig, v_planted, replace=False)
    noise = rng.standard_normal((v_planted, EMBED_DIM)).astype(np.float32)
    norms = np.linalg.norm(vecs[v_src], axis=1, keepdims=True)
    vecs[v_orig:] = vecs[v_src] + VECTOR_NOISE * norms / np.sqrt(
        EMBED_DIM) * noise
    vec_pairs = [(base + int(s), base + v_orig + j)
                 for j, s in enumerate(v_src)]
    vectors = pa.table({
        "vec_id": pa.array(np.arange(base, base + n_vectors), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1), pa.float32()), EMBED_DIM).cast(
                pa.list_(pa.float32())),
    })
    return Shard(index, docs, vectors, doc_pairs, vec_pairs)


def exact_groups(docs: pa.Table) -> dict[str, tuple[int, int]]:
    """hashlib oracle for exact dedup: md5(text) -> (min doc_id, copies)."""
    out: dict[str, tuple[int, int]] = {}
    for doc_id, text in zip(docs.column("doc_id").to_pylist(),
                            docs.column("text").to_pylist()):
        h = hashlib.md5(text.encode("utf-8")).hexdigest()
        kept, n = out.get(h, (doc_id, 0))
        out[h] = (min(kept, doc_id), n + 1)
    return out


# -- TPC-H-ish tables for the query mix --------------------------------------

QUERY_SF = 0.01
QUERY_DOCS = 400
QUERY_VECTORS = 4000     # n^2 / (2 * 8 cells) = 1M: the cellpairs tier
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PWORDS = ("small", "red", "ring", "widget", "blue", "large", "gear",
           "bolt", "green", "steel")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), pa.int64()).cast(
        pa.timestamp("us"))


def tpch_tables(seed: int, sf: float = QUERY_SF) -> dict[str, pa.Table]:
    """The star schema the registry queries read, at ``sf`` (sf0.01 has
    60k lineitems).  Value domains follow FIXTURES.md so the queries'
    literal filters select real rows."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), \
        int(200_000 * sf)
    n_orders, n_line, n_events = int(1_500_000 * sf), int(6_000_000 * sf), \
        int(1_000_000 * sf)
    day_us = 86_400 * 10**6
    epoch_1995 = 788_918_400 * 10**6
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99,
                                                   n_cust), 2)),
        "c_mktsegment": pa.array([_SEGMENTS[i] for i in rng.integers(
            0, 5, n_cust)], pa.string())})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99,
                                                   n_supp), 2))})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{_PWORDS[a]} {_PWORDS[b]}" for a, b in
                            rng.integers(0, len(_PWORDS), (n_part, 2))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(
            1, 26, n_part)]),
        "p_type": pa.array([_PTYPES[i] for i in rng.integers(
            0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000)
                                           * 0.1, 2))})
    o_days = rng.integers(0, 2404, n_orders)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in
                                   rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000,
                                                      n_orders), 2)),
        "o_orderdate": _ts(epoch_1995 + o_days * day_us),
        "o_orderpriority": pa.array([_PRIORITIES[i] for i in rng.integers(
            0, 5, n_orders)])})
    l_order = np.sort(rng.integers(0, n_orders, n_line))
    # line numbers restart per order: position within the order's run
    starts = np.searchsorted(l_order, l_order, side="left")
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_line) - starts + 1, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(
            900, 2000, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(
            0, 3, n_line)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(
            0, 2, n_line)]),
        "l_shipdate": _ts(epoch_1995 + (o_days[l_order] + rng.integers(
            1, 122, n_line)) * day_us)})
    ev_start = 1_704_067_200 * 10**6   # 2024-01-01
    ev_ts = np.sort(rng.integers(0, 30 * day_us, n_events))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(ev_start + ev_ts),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": pa.array([_EVENT_TYPES[i] for i in rng.integers(
            0, 5, n_events)]),
        "value": pa.array(np.round(rng.uniform(0.01, 500, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(
            0, 100, n_events)])})
    return t


def write_parquet(table: pa.Table, path: str) -> None:
    # Fixed writer options and no pandas metadata: byte-identical files.
    pq.write_table(table.replace_schema_metadata(None), path,
                   compression="snappy", use_dictionary=True)


def corpus_tables(shard: Shard) -> dict[str, pa.Table]:
    """A shard in the registry's ``documents``/``embeddings`` layout."""
    texts = shard.docs.column("text").to_pylist()
    ids = shard.docs.column("doc_id").to_numpy()
    langs = ("en", "en", "en", "de", "es", "fr", "zh")
    documents = shard.docs.append_column(
        "lang", pa.array([langs[i % len(langs)] for i in ids])).append_column(
        "source", pa.array([f"src{i % 20}" for i in ids])).append_column(
        "n_chars", pa.array([len(t) for t in texts], pa.int64()))
    vids = shard.vectors.column("vec_id").to_numpy()
    embeddings = shard.vectors.append_column(
        "label", pa.array(vids % 10, pa.int32()))
    return {"documents": documents, "embeddings": embeddings}


def write_query_inputs(seed: int, sf_dir: str) -> tuple[int, Shard]:
    """Write the query mix's tables (TPC-H-ish star schema plus one
    planted corpus shard as documents/embeddings); returns the bytes
    written and the shard, whose planted pairs the recall checks use."""
    os.makedirs(sf_dir, exist_ok=True)
    shard = corpus_shard(seed, 0, QUERY_DOCS, QUERY_VECTORS)
    total = 0
    for name, table in {**tpch_tables(seed),
                        **corpus_tables(shard)}.items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        write_parquet(table, path)
        total += os.path.getsize(path)
    return total, shard


#: Why each input property is what it is; copied into every result.
INPUT_FACTS = {
    "catalog_fleet": {
        "databases": len(FLEET_QUANTILES),
        "table_counts": fleet_table_counts(),
        "quantiles": list(FLEET_QUANTILES),
        "columns_per_table": list(COLUMNS_PER_TABLE),
        "why_sizes": "log-normal table counts: three pushes at the middle "
                     "quantiles, bound by the per-push Spark floor, and one "
                     "at the 98th percentile, where the driver-side "
                     "collect and envelope packing take most of the push "
                     "(traced runs report the share as "
                     "sinks.publish_share); same sizes for every seed",
        "description_rate": DESCRIPTION_RATE,
        "why_descriptions": "about 30% present, with 2-4 byte UTF-8 text; "
                            "absent ones are NULL or '' so both "
                            "empty-description paths run",
        "view_rate": VIEW_RATE,
    },
    "corpus_shard": {
        "docs": QUERY_DOCS, "vectors": QUERY_VECTORS, "dim": EMBED_DIM,
        "zipf_s": ZIPF_S, "vocab": VOCAB_SIZE,
        "why_zipf": "natural-language token skew makes shingle and band "
                    "keys skewed the way real corpora are",
        "near_dup_rate": NEAR_DUP_RATE,
        "why_dups": "20% planted copies give a known pair set for recall; "
                    "a quarter of the planted docs are byte-identical so "
                    "exact dedup has groups to find",
        "why_vectors": "4k vectors in 8 cells give 4000^2/16 = 1M "
                       "estimated candidates, the cellpairs crossover of "
                       "semantic_dedup_pairs",
    },
    "tpch": {
        "sf": QUERY_SF,
        "why": "tiny data, so query time is the per-query floor: plan "
               "construction, Catalyst and job scheduling",
    },
}
