from __future__ import annotations

import math
import os

import duckdb
import pytest

from emails_to_vector_db_spark.session import get_spark
from emails_to_vector_db_spark.sources.tables import TABLE_NAMES, table_path

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def pytest_configure(config):
    """Default the suite's driver heap to half the machine's memory.
    ``get_spark`` falls back to a 48g heap, which on a smaller machine
    lets the JVM grow until the kernel kills it mid-suite; an explicit
    ``SPARK_GRAFT_DRIVER_MEM`` still wins. Set in the environment, so
    subprocesses the tests spawn inherit it too."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return  # no /proc: keep get_spark's default
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{kb // 2048}m"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="e2v-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Mirror the driver's oracle: every fixture table pre-registered as a
    view over the same parquet."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{table_path(sf_dir, name)}'"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 and representation noise below the rounding the
        # queries already apply
        return round(v, 9)
    return v


def rows_match(spark_df, duck_rows) -> tuple[bool, str]:
    """Order-insensitive comparison of a Spark result against DuckDB rows,
    column order normalized by sorted column name (as the driver does)."""
    cols = spark_df.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(t):
        return tuple((v is None, str(type(v)), str(v)) for v in t)

    s_rows = sorted(
        (tuple(_norm(r[i]) for i in order) for r in spark_df.collect()), key=key
    )
    d_rows = sorted(
        (tuple(_norm(r[i]) for i in order) for r in duck_rows), key=key
    )
    if len(s_rows) != len(d_rows):
        return False, f"row count {len(s_rows)} vs {len(d_rows)}"
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        if a != b:
            return False, f"row {i}: spark={a!r} duck={b!r}"
    return True, "ok"
