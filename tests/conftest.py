import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from faiss_spark.session import TABLES, get_spark, load_tables

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("faiss_spark_tests")
    yield s


@pytest.fixture(scope="session")
def tables(spark):
    return load_tables(spark, SF_DIR)


@pytest.fixture(scope="session")
def oracle():
    """DuckDB connection with the same tables registered as views —
    mirrors the driver's correctness harness."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


def rows_set(df, ndigits=6):
    """Spark DataFrame -> set of tuples with rounded floats (order-insensitive
    compare, like the driver's value hash)."""
    out = set()
    for r in df.collect():
        out.add(
            tuple(
                round(v, ndigits) if isinstance(v, float) else v for v in r
            )
        )
    return out


def duck_set(con, sql, ndigits=6):
    out = set()
    for r in con.execute(sql).fetchall():
        out.add(
            tuple(round(v, ndigits) if isinstance(v, float) else v for v in r)
        )
    return out
