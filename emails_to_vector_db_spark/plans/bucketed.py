"""Bucketed-table co-located join: the storage-layout answer to the
biggest shuffle in the warehouse.

The reference joins nothing (single-table Postgres scans,
``rag.py:40-50``); at 100 TB the fact-fact join (lineitem ⋈ orders on
orderkey) is THE dominant shuffle in TPC-H-shaped workloads — both
sides move over the network every single query. The standard fix is to
pay that shuffle ONCE at write time: store both tables bucketed (and
sorted) by the join key with the same bucket count, so every subsequent
join is bucket-to-bucket co-located — a SortMergeJoin with ZERO
exchanges, verified by tests/test_warehouse_layout.py. (The residual
per-task Sort is local, linear and spill-free over one bucket file;
Spark ≥3.0 ignores bucket sort metadata at scan unless the legacy
``spark.sql.legacy.bucketedTableScan.outputOrdering`` conf is set, so
the layout still writes SORTED BY for engines/confs that use it.)

Spark specifics this leans on (all public `DataFrameWriter.bucketBy` /
`CLUSTERED BY` DDL behavior):
- bucket assignment is Murmur3 on the key mod n_buckets, identical for
  both tables, so equal keys land in equal bucket ids;
- the catalog carries the bucket spec, so Catalyst plans the join with
  `outputPartitioning = HashPartitioning(key, n)` on both scans and
  elides the Exchange AND (because of SORTED BY) the per-task Sort;
- the in-memory session catalog is enough — tables are registered
  external-at-a-LOCATION, so the bucketed files persist across sessions
  and a fresh session only replays cheap DDL.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emails_to_vector_db_spark.plans.registry import register
from emails_to_vector_db_spark.sources.tables import (
    ident_part,
    load_table,
    table_path,
)

BUCKETS = 16
_LAYOUT_VERSION = 1


def _bucket_root(sf_dir: str, tbl: str) -> str:
    root = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    sf = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(
        root, "spark-warehouse", f"bucketed_v{_LAYOUT_VERSION}", sf, tbl
    )


def _table_name(sf_dir: str, tbl: str) -> str:
    return f"bkt_{tbl}_{ident_part(sf_dir)}"


def ensure_bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    tbl: str,
    key: str,
    n_buckets: int = BUCKETS,
) -> str:
    """Land ``tbl`` bucketed+sorted by ``key`` (write-once per fixture
    generation, mtime staleness guard) and make sure the current
    session's catalog knows the bucket spec. Returns the catalog name.

    The data shuffle happens only when the source fixture changed; a
    fresh session over fresh files replays only a CREATE TABLE — this is
    the once-per-ingest cost a production warehouse amortizes over every
    later join.
    """
    name = _table_name(sf_dir, tbl)
    path = _bucket_root(sf_dir, tbl)
    marker = os.path.join(path, "_SOURCE_MTIME")
    src_mtime = os.path.getmtime(table_path(sf_dir, tbl))
    fresh = False
    if os.path.exists(marker):
        with open(marker) as f:
            fresh = float(f.read().strip()) >= src_mtime

    if spark.catalog.tableExists(name):
        if fresh:
            return name
        spark.sql(f"DROP TABLE IF EXISTS {name}")

    df = load_table(spark, sf_dir, tbl)
    if not fresh:
        shutil.rmtree(path, ignore_errors=True)
        # repartition on the bucket key first → exactly ONE file per
        # bucket. Spark only trusts SORTED BY when a bucket is a single
        # file (multi-file buckets are only per-file sorted), so this is
        # what lets the join elide the per-task Sort as well as the
        # Exchange — and it avoids the small-files problem at the same
        # time.
        (
            df.repartition(n_buckets, F.col(key))
            .write.format("parquet")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(name)
        )
        with open(marker, "w") as f:
            f.write(str(src_mtime))
    else:
        # files are current but this session's catalog has never seen
        # them: re-register the external bucketed table — pure DDL, no
        # data movement.
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
        )
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING parquet "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
        )
    return name


_COLOCATED_ORACLE = """
SELECT o.o_orderpriority,
       count(*)::BIGINT AS n_lines,
       count(DISTINCT l.l_orderkey)::BIGINT AS n_orders,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY o.o_orderpriority
"""


@register(
    "bucketed_colocated_join",
    oracle=_COLOCATED_ORACLE,
    tags=("layout", "bucketing", "join", "warehouse"),
    bench=True,
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority revenue from lineitem ⋈ orders, but joined through
    the bucketed layout: both sides stored CLUSTERED/SORTED BY orderkey
    INTO 16 BUCKETS, so the fact-fact join runs bucket-to-bucket with no
    exchange — the only shuffle left in the plan is the final 5-group
    aggregate (the distinct-orderkey partial even collapses map-side
    because the scan is already hash-distributed by orderkey). The oracle computes the same answer from
    the raw tables; hash-match proves the layout round-trip (write
    bucketed → register → co-located join) loses nothing.

    At 100 TB: this is THE canonical warehouse layout decision — the
    orderkey shuffle is paid once at ingest and never again; every
    downstream orderkey join (and groupBy orderkey) inherits the
    partitioning. The same trade the zorder query makes for scan
    pruning, made here for join locality."""
    li = spark.table(ensure_bucketed_table(spark, sf_dir, "lineitem", "l_orderkey"))
    od = spark.table(ensure_bucketed_table(spark, sf_dir, "orders", "o_orderkey"))
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .where(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )
