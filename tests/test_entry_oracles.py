"""Mirror of the driver's correctness gate: run every __spark_entry__
query against its DuckDB oracle at sf0.001 (fast; the driver uses sf0.01)
and compare row count + order-insensitive values with columns sorted by
name — the same comparison shape the driver applies."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def con():
    # the oracles share the pytest process with the Spark driver's JVM: cap
    # DuckDB's buffer pool and threads (every oracle peaks under 700 MB RSS)
    c = duckdb.connect(config={"memory_limit": "2GB", "threads": 2})
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 9)
                if v == -0.0:
                    v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


ORACLE_KEYS = sorted(entrymod.oracle_sql())
# queries over the real Pass-1 bundle corpus, whose DuckDB oracles read the
# corpus files themselves: like the other real-corpus tests, they need it
# mounted
REAL_CORPUS_QUERIES = {"medlit_auth_ids", "medlit_bundle_stats"}


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, con, name):
    if name in REAL_CORPUS_QUERIES and not os.path.isdir(entrymod._MEDLIT_BUNDLES):
        pytest.skip("reference corpus not mounted")
    q = entrymod.queries()[name]
    sdf = q(spark, SF)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    rel = con.sql(entrymod.oracle_sql()[name])
    dcols = [d[0] for d in rel.description]
    drows = rel.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: columns {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: rowcount {len(srows)} vs {len(drows)}"
    sn, dn = _norm_rows(scols, srows), _norm_rows(dcols, drows)
    mismatches = [(a, b) for a, b in zip(sn, dn) if a != b][:5]
    assert sn == dn, f"{name}: first mismatches {mismatches}"


def test_rows_only_queries_run(spark):
    rows_only = sorted(set(entrymod.queries()) - set(entrymod.oracle_sql()))
    for name in rows_only:
        df = entrymod.queries()[name](spark, SF)
        n = df.count()
        assert n >= 0, name
        assert df.columns, name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns == [
        "subject_id", "predicate", "object_id", "confidence", "evidence_count",
    ]
