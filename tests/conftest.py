"""Shared fixtures: one SparkSession per test run, a DuckDB oracle
connection with the test tables registered as views, and a comparator that
mirrors the driver's check (row count + schema + order-insensitive values,
columns matched by name)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def persistent_rdds(spark) -> set[int]:
    """Ids of the RDDs the JVM holds persisted. Compare them as "nothing
    new" (``not persistent_rdds(spark) - before``), never for equality:
    the map holds its RDDs weakly, so a JVM GC may drop an earlier test's
    unreferenced RDD from it at any time."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.fixture(scope="session")
def spark():
    from pedri_analysis_spark.session import get_spark

    spark = get_spark(
        app_name="pedri-tests",
        master="local[8]",
        shuffle_partitions=8,
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def canonical_rows(columns, rows):
    """Sort columns by name, canonicalize values, sort rows — the same
    order-insensitive comparison the driver performs."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def canon(v):
        if v is None:
            return "\x00NULL"
        if isinstance(v, bool):
            return str(int(v))
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            # floats in query outputs are pre-rounded; format canonically
            return repr(round(v, 9))
        return str(v)

    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort()
    return [columns[i] for i in order], out


def assert_query_matches_oracle(spark, duck, qfn, sql, sf_dir=SF_DIR):
    sdf = qfn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    res = duck.sql(sql)
    dcols = list(res.columns)
    drows = [tuple(r) for r in res.fetchall()]

    assert sorted(scols) == sorted(dcols), f"column mismatch: {scols} vs {dcols}"
    assert len(srows) == len(drows), f"row count {len(srows)} vs oracle {len(drows)}"
    _, s_canon = canonical_rows(scols, srows)
    _, d_canon = canonical_rows(dcols, drows)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_canon, d_canon)) if a != b
    ]
    assert not mismatches, f"{len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
