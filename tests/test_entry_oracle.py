"""Operator parity and the ``entry()`` contract.

For every entry in __spark_entry__.queries() with an oracle_sql(),
run both on sf0.001 and compare row count + column names + values
(order-insensitive, floats rounded). ``test_entry_smoke`` pins
``entry(spark)``: one ``(doc_id bigint, cluster_id bigint)`` row per
sf0.001 document.
"""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


def _norm_value(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 4)
    if hasattr(v, "quantize"):  # Decimal
        return round(float(v), 4)
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(_norm_value(r[i]) for i in order) for r in rows]
    # null-safe sort: rows from ROLLUP/CUBE contain Nones
    return sorted(normed, key=lambda row: tuple((v is None, str(v)) for v in row))


QUERIES = sorted(set(entrymod.queries()) & set(entrymod.oracle_sql()))


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(entrymod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column mismatch {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    a = _norm_rows(scols, srows)
    b = _norm_rows(dcols, drows)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


N_DOCUMENTS = 500  # rows (and distinct doc_ids) in sf0.001 documents


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.columns == ["doc_id", "cluster_id"]
    assert [t for _, t in df.dtypes] == ["bigint", "bigint"]
    rows = df.collect()
    assert len(rows) == N_DOCUMENTS
    assert len({r["doc_id"] for r in rows}) == N_DOCUMENTS
    assert all(r["cluster_id"] is not None for r in rows)
