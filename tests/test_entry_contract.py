"""Mimics the driver's DuckDB cross-check: for every oracle-backed query,
run the Spark DataFrame program and the ANSI SQL side by side at sf0.001 and
compare row counts + order-insensitive values (columns sorted by name)."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def _normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    normed = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    # None-safe total order: Python can't compare None with str/float, and
    # nullable columns (e.g. sitemap lastmod/changefreq) hit exactly that.
    # Any deterministic key works — both sides hold identical multisets when
    # the entry is correct; repr() disambiguates types on the off chance.
    return sorted(
        normed, key=lambda row: tuple((v is None, repr(v)) for v in row)
    )


ORACLE_KEYS = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_vs_duckdb(spark, ddb, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = ddb.execute(entry_mod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column mismatch"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count {len(spark_rows)} != {len(duck_rows)}"
    a = _normalize(spark_rows, spark_cols)
    b = _normalize(duck_rows, duck_cols)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_every_query_has_an_oracle():
    """Every queries() entry has an oracle_sql() counterpart, so the DuckDB
    parity test above checks every contract entry."""
    missing = sorted(set(entry_mod.queries()) - set(entry_mod.oracle_sql()))
    assert not missing, f"contract entries without oracle_sql(): {missing}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_no_duplicate_definitions_in_queries_module():
    # a later duplicate top-level def/assign silently replaces the earlier
    # registry binding (a real round-4 incident: a second q_recrawl_schedule
    # shadowed the banded-interval entry). Parse, don't import.
    import ast

    import webcrawler_spark.queries as Q

    tree = ast.parse(open(Q.__file__.rstrip("c")).read())
    seen: dict = {}
    dups = []
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
        else:
            continue
        for n in names:
            if n in seen and n not in ("QUERIES", "ORACLE_SQL"):
                dups.append((n, seen[n], node.lineno))
            seen[n] = node.lineno
    assert not dups, f"shadowed top-level names in queries.py: {dups}"
