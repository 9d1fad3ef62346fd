"""Loaders for the harness tables (parquet dirs under $SPARK_GRAFT_SF_DIR).

At production scale these would be ``spark.read.table`` over Iceberg; the
parquet reader keeps identical semantics (columnar scan, predicate pushdown,
column pruning) at test scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
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


def sf_dir(default: str = "/root/testdata/sf0.1") -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


def load_table(spark: SparkSession, name: str, directory: str | None = None) -> DataFrame:
    directory = directory or sf_dir()
    return spark.read.parquet(os.path.join(directory, f"{name}.parquet"))


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort: bool = True,
    path: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by the join key so
    subsequent equi-joins on that key are CO-LOCATED — Catalyst plans a
    SortMergeJoin with NO shuffle exchange on either side (asserted in
    tests/test_bucketed_join.py from the physical plan).

    At 100 TB this is the standing-fact-table shape: pay the bucketing
    shuffle once at write time, then every (customer ⋈ orders)-style join
    reads bucket-aligned files.  ``saveAsTable`` goes through the session
    catalog (Iceberg/Hive in production; the local Derby metastore in
    tests)."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    if path is not None:
        writer = writer.option("path", path)  # external table location
    writer.format("parquet").saveAsTable(table_name)
