"""Parquet table scans for the driver-generated test tables.

The reference reads whole JSON documents or NDJSON lines from local files
(StixToNeoDB.scala:50-55).  Our engine's equivalent "source" is a columnar
table scan: ``spark.read.parquet`` benefits from vectorized reading, column
pruning, and predicate pushdown for free — filters written early in a query
reach the scan (visible as PushedFilters in ``df.explain``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
