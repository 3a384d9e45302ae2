"""Output checks: every op's result is compared with a reference.

A signature is a tuple of row counts and order-independent hashes of the
key column.  The hash is the sum of ``xxhash64(id)`` as a decimal (no
overflow, duplicates do not cancel as they would under xor), so it does
not depend on partitioning or row order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stixtoneodb_spark.plans import assemble, extract
from stixtoneodb_spark.plans.catalog import ParquetMergeCatalog
from stixtoneodb_spark.plans.evaluate import triple_pr
from stixtoneodb_spark.sources.transcripts import TRUTH_TRIPLE_SCHEMA

MIN_PR = 0.95


def key_signature(df: DataFrame, key: str = "id") -> tuple[int, str]:
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(key).cast("decimal(20,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"])


def graph_signature(warehouse: str, spark: SparkSession) -> tuple:
    """(nodes, node-id hash, edges, edge-id hash, dropped triples)."""
    cat = ParquetMergeCatalog(spark, warehouse)
    return (
        *key_signature(cat.read("nodes")),
        *key_signature(cat.read("edges")),
        cat.read("dropped_triples").count(),
    )


def graph_pr(warehouse: str, spark: SparkSession, truth_triples: list[tuple]) -> tuple[float, float]:
    """Triple precision and recall of a built graph against planted truth."""
    cat = ParquetMergeCatalog(spark, warehouse)
    truth = spark.createDataFrame(truth_triples, TRUTH_TRIPLE_SCHEMA)
    pr = triple_pr(cat.read("linked_triples"), truth, cat.read("canonical_map"))
    return pr.precision, pr.recall


def _mention_id(df: DataFrame) -> DataFrame:
    # the content key start_mention_merge_sink upserts on
    return df.withColumn(
        "id",
        F.sha2(
            F.concat_ws("|", "conv_id", F.col("turn_idx").cast("string"), "surface", "start"),
            256,
        ),
    )


def batch_mention_signature(spark: SparkSession, chunks_dir: str) -> tuple[int, str]:
    """Reference for a stream drain: batch mention detection over the chunks."""
    turns = assemble.normalize_turns(spark.read.parquet(chunks_dir))
    mentions = _mention_id(extract.detect_mentions(turns)).select("id").distinct()
    return key_signature(mentions)


def stream_signature(warehouse: str, spark: SparkSession, table: str) -> tuple[int, str]:
    return key_signature(ParquetMergeCatalog(spark, warehouse).read_bucketed(table))
