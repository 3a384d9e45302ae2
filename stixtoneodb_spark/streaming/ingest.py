"""Stream mode (``--mode stream``): transcript chunk files into the
mention MERGE sink.

Reference correspondence: the ``-x`` "large file one line at a time" mode
(reference StixToNeoDB.scala:53-55, README.md:78-82) loads records as they
arrive into the same store as the ``-f`` mode.  Here that is one
Structured Streaming query of three parts:

- ``read_transcript_stream``: a file-source ``readStream`` over a dir of
  transcript chunk files, each new file a chunk of newly arrived turns;
- ``streaming_mentions``: the batch S0→S2 code (normalize + Arrow mention
  detection), run unchanged on the unbounded frame;
- ``start_mention_merge_sink``: a ``foreachBatch`` sink that MERGEs each
  micro-batch's mentions, keyed on content, into the bucketed
  ``MENTION_TABLE`` (append-to-existing semantics, reference README.md:75).

A re-delivered turn needs no dedup operator: its mentions carry the same
content keys, and the sink's insert-if-absent MERGE drops them.
``maxFilesPerTrigger`` bounds the input of one micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stixtoneodb_spark.plans import assemble, extract
from stixtoneodb_spark.plans.catalog import ParquetMergeCatalog
from stixtoneodb_spark.sources.transcripts import TRANSCRIPT_SCHEMA

# The table the mention merge sink writes, and its number of key-hash buckets.
MENTION_TABLE = "stream_mentions"
MENTION_BUCKETS = 16


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of transcript turns (the -x mode analog: each new
    file is a chunk of newly-arrived turns).  Explicit schema — streaming
    sources must never infer."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def streaming_mentions(stream: DataFrame) -> DataFrame:
    """S0→S2 on a stream: normalize + Arrow-batched mention detection.

    Both stages are narrow (projection, filter, pandas UDF), so the exact
    batch code path (plans.assemble / plans.extract) runs unchanged on the
    unbounded DataFrame — the engine-level guarantee that batch and
    streaming agree.
    """
    return extract.detect_mentions(assemble.normalize_turns(stream))


def start_mention_merge_sink(stream: DataFrame, warehouse: str, checkpoint_dir: str):
    """foreachBatch sink: MERGE each micro-batch's mentions into the
    catalog, exactly as batch S5 does (idempotent on the content key, so
    micro-batch replay after failure cannot duplicate rows).

    The merge is insert-only (``merge_upsert_bucketed``): each micro-batch
    scans the key column of the table, writes only its new mentions in one
    write, one file per key-hash bucket they touch, and renames the files
    into their buckets.  No existing row is rewritten, so a replayed batch
    writes nothing, and the sink's I/O per batch is its new rows plus one
    key-column scan.  A sink killed mid-batch leaves its staged files
    under ``_staging/<MENTION_TABLE>``; the next start sweeps them before
    the query runs, and the replay inserts the rows still missing.  Read
    the table back with ``catalog.read_bucketed(MENTION_TABLE)``.

    Returns the StreamingQuery; caller awaits termination.  Uses
    ``Trigger.AvailableNow`` so the query drains the available input and
    stops — the bounded-run mode tests and backfills use.
    """

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        catalog = ParquetMergeCatalog(batch_df.sparkSession, warehouse)
        keyed = batch_df.withColumn(
            "id",
            F.sha2(
                F.concat_ws(
                    "|", "conv_id", F.col("turn_idx").cast("string"), "surface", "start"
                ),
                256,
            ),
        )
        catalog.merge_upsert_bucketed(
            MENTION_TABLE, keyed, key_col="id", n_buckets=MENTION_BUCKETS
        )

    ParquetMergeCatalog(stream.sparkSession, warehouse).sweep_staging(tables=[MENTION_TABLE])
    mentions = streaming_mentions(stream)
    return (
        mentions.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
