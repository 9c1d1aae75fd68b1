"""The same seed gives byte-identical inputs; the seed moves content,
not shape."""

import hashlib

import gen


def _digest(tmp_path, table, name):
    path = tmp_path / name
    gen.write_parquet(table, str(path))
    return hashlib.sha256(path.read_bytes()).hexdigest()


def test_catalog_db_is_byte_identical_per_seed(tmp_path):
    a = gen.catalog_db(5, 2, 60)
    b = gen.catalog_db(5, 2, 60)
    c = gen.catalog_db(6, 2, 60)
    assert gen.write_catalog(a, str(tmp_path / "a.parquet")) > 0
    gen.write_catalog(b, str(tmp_path / "b.parquet"))
    gen.write_catalog(c, str(tmp_path / "c.parquet"))
    da, db_, dc = (hashlib.sha256((tmp_path / f).read_bytes()).hexdigest()
                   for f in ("a.parquet", "b.parquet", "c.parquet"))
    assert da == db_
    assert da != dc


def test_fleet_shape_does_not_depend_on_seed():
    counts = gen.fleet_table_counts()
    assert counts == sorted(counts)
    assert counts[0] >= gen.FLEET_MIN_TABLES
    assert counts[-1] <= gen.FLEET_MAX_TABLES
    for seed in (1, 2):
        assert [db.n_tables for db in gen.catalog_fleet(seed)] == counts


def test_catalog_names_unique_after_lower_casing_and_descriptions_mixed():
    db = gen.catalog_db(3, 0, 300)
    keys = {(s.lower(), t.lower(), c.lower()) for s, t, c in zip(
        db.rows["table_schema"], db.rows["table_name"], db.rows["col_name"])}
    assert len(keys) == db.n_columns
    descs = db.rows["col_description"]
    present = [d for d in descs if d]
    assert 0.2 < len(present) / len(descs) < 0.4
    assert None in descs and "" in descs
    assert any(not d.isascii() for d in present)


def test_corpus_shard_is_byte_identical_and_plants_pairs(tmp_path):
    a = gen.corpus_shard(9, 0, n_docs=200, n_vectors=300)
    b = gen.corpus_shard(9, 0, n_docs=200, n_vectors=300)
    c = gen.corpus_shard(10, 0, n_docs=200, n_vectors=300)
    assert _digest(tmp_path, a.docs, "a") == _digest(tmp_path, b.docs, "b")
    assert _digest(tmp_path, a.vectors, "av") == \
        _digest(tmp_path, b.vectors, "bv")
    assert _digest(tmp_path, a.docs, "a2") != _digest(tmp_path, c.docs, "c")
    assert len(a.doc_pairs) == int(200 * gen.NEAR_DUP_RATE)
    assert len(a.vec_pairs) == int(300 * gen.NEAR_DUP_RATE)
    groups = gen.exact_groups(a.docs)
    assert any(n > 1 for _, n in groups.values())


def test_query_inputs_are_byte_identical(tmp_path):
    d1, d2 = tmp_path / "one", tmp_path / "two"
    n1, _ = gen.write_query_inputs(4, str(d1))
    n2, _ = gen.write_query_inputs(4, str(d2))
    assert n1 == n2
    for f in sorted(p.name for p in d1.iterdir()):
        assert (d1 / f).read_bytes() == (d2 / f).read_bytes(), f
    assert gen.tpch_tables(4)["lineitem"].num_rows == 60_000
