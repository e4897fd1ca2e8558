"""Shared fixtures: one SparkSession per test run + a DuckDB oracle.

Mirrors the driver harness (__spark_entry__.py contract): for every
registered query with an oracle, run PySpark and DuckDB on the same
parquet fixtures and compare row count, column names, and values
order-insensitively (columns sorted by name, rows sorted, doubles
compared with tolerance).
"""

from __future__ import annotations

import contextlib
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dbx_workspace_and_emr_iceberg_spark.session import get_spark
from dbx_workspace_and_emr_iceberg_spark.tables import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="spark-graft-tests", cpus=8)
    yield s


@contextlib.contextmanager
def int96_timestamps(spark):
    """Write ``timestamp`` columns as legacy INT96 (no footer min/max)
    inside the block, as a session not built by get_spark does; the
    session's own setting comes back afterwards."""
    key = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        yield
    finally:
        spark.conf.set(key, before)


def ts_physical_type(path: str) -> str:
    """The parquet physical type a data file stores its ``ts`` column as."""
    import pyarrow.parquet as pq

    schema = pq.ParquetFile(path).schema
    return schema.column(schema.names.index("ts")).physical_type


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for cross-engine comparison."""
    import datetime
    import decimal

    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return v


def _sort_key(row):
    return tuple((x is None, str(x)) for x in row)


def compare_frames(spark_rows, spark_cols, duck_rows, duck_cols, rel_tol=None):
    """Order-insensitive compare with column-name alignment (driver-style).

    Floats compare EXACTLY by default. The driver's gate is a value
    hash, so any float divergence — however small — fails it; a
    tolerant local gate is exactly how round-1's p1/p5 shipped red.
    Queries must be engineered cross-engine-exact (decimal arithmetic,
    explicit rounding on both sides). ``rel_tol`` exists only for
    queries tagged 'float_tol' (documented driver-risk accepted).
    """
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    dorder = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    s = sorted(
        (tuple(_norm(r[i]) for i in order) for r in spark_rows), key=_sort_key
    )
    d = sorted(
        (tuple(_norm(r[i]) for i in dorder) for r in duck_rows), key=_sort_key
    )
    assert len(s) == len(d), f"row count mismatch: spark={len(s)} duck={len(d)}"
    for rs, rd in zip(s, d):
        for a, b in zip(rs, rd):
            if rel_tol is not None and isinstance(a, float) and isinstance(b, float):
                assert math.isclose(a, b, rel_tol=rel_tol, abs_tol=1e-9), (
                    f"value mismatch {a!r} != {b!r}\nspark row {rs}\nduck row {rd}"
                )
            else:
                assert a == b, (
                    f"value mismatch {a!r} != {b!r}\nspark row {rs}\nduck row {rd}"
                )


def _audit_windows(name: str, df) -> None:
    """Scale-weak window audit on every frame the suite builds
    (VERDICT r12 #3, permanent form of the one-off that caught
    x33/x36): a window partitioned only on low-cardinality keys with
    no chunk co-key / WindowGroupLimit / reviewed allowlist entry
    fails the query's correctness test, so a NEW query can never
    reintroduce the shape. Logic lives in tools/window_audit.py."""
    from tools.window_audit import audit_frame

    findings = audit_frame(name, df)
    assert not findings, "\n".join(findings)


@pytest.fixture(scope="session")
def oracle_check(spark, oracle_con):
    def check(query):
        df = query.fn(spark, SF_DIR)
        _audit_windows(query.name, df)
        spark_rows = [tuple(r) for r in df.collect()]
        res = oracle_con.execute(query.oracle)
        duck_cols = [c[0] for c in res.description]
        duck_rows = res.fetchall()
        # 'float_tol' tag = query accepts driver-hash risk on float noise
        tol = 1e-6 if "float_tol" in getattr(query, "tags", ()) else None
        compare_frames(spark_rows, df.columns, duck_rows, duck_cols, rel_tol=tol)
        return len(spark_rows)

    return check
