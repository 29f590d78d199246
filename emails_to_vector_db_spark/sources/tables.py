"""Parquet table loaders for the driver-generated fixture tables.

Replaces the reference's scan surface (SURVEY.md §2.1): the Postgres
``SELECT ... FROM products`` full scan (reference ``rag.py:40-41``) becomes
``spark.read.parquet(...).select(...)`` — Parquet column pruning and filter
pushdown make the manual projection unnecessary; Catalyst prunes at the scan.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emails_to_vector_db_spark.session import NANOS_AS_LONG

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def corpus_tag(sf_dir: str) -> str:
    """Warehouse-artifact key for a corpus: hash of the ABSOLUTE path —
    never the basename, so two corpora sharing a basename (e.g.
    /a/sf0.1 and /b/sf0.1) can't collide on one index location (the r9
    ADVICE hazard: the mtime-only guard would then serve whichever
    corpus built last)."""
    import hashlib
    import os

    return hashlib.sha1(
        os.path.abspath(sf_dir).encode("utf-8")
    ).hexdigest()[:10]


def ident_part(sf_dir: str) -> str:
    """A corpus directory's basename as a catalog-identifier fragment:
    every character outside ``[0-9A-Za-z_]`` becomes ``_`` (``sf0.01``
    → ``sf0_01``, ``sf-x`` → ``sf_x``), so a derived table name like
    ``pst_documents_<part>_<tag>`` parses unquoted. Distinct basenames
    can share a fragment; a name that must tell corpora apart also
    carries ``corpus_tag``."""
    return re.sub(r"[^0-9A-Za-z_]", "_", os.path.basename(sf_dir.rstrip("/")))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; ``events`` gets its nanosecond timestamp
    normalized to a microsecond TimestampType (same truncation DuckDB
    applies, so oracle comparisons line up exactly)."""
    if name == "events":
        # Fixture generations have stored ts as INT64 TIMESTAMP(NANOS)
        # (readable only as a long under this conf) or as naive
        # timestamp[us] (read as TIMESTAMP_NTZ). Normalize both to a
        # session-TZ TimestampType; the machine/session TZ is UTC, so the
        # NTZ→TZ cast is value-preserving and epoch extraction agrees
        # with DuckDB's naive-timestamp arithmetic.
        spark.conf.set(NANOS_AS_LONG, "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # integer division: `/` is double division and can round the
            # last microsecond (1.7e18 ns exceeds double's exact range)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def register_views(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> None:
    """Register each fixture table as a temp view (mirrors the DuckDB
    oracle's pre-registered views)."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
