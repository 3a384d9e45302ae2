"""Stream mode tests: the file source, the streamed S0→S2 mentions and the
mention MERGE sink.

Strategy: feed the file source a bounded set of parquet chunks, run with
Trigger.AvailableNow (drain-and-stop), and assert the streamed results
equal the batch results on the same input, also after a replay or a sink
killed mid-batch.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from stixtoneodb_spark.plans import assemble, extract
from stixtoneodb_spark.sources.transcripts import transcripts_df
from stixtoneodb_spark.streaming import ingest


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """Transcript corpus split into 3 parquet chunk-files (arrival order)."""
    d = tmp_path_factory.mktemp("stream_in")
    tr = transcripts_df(spark, 60).persist()
    # chunk by event-time tertiles: file arrival order matches event time,
    # as a real at-most-slightly-late stream would
    with_s = tr.withColumn("_s", F.unix_timestamp("ts"))
    t1, t2 = with_s.approxQuantile("_s", [0.33, 0.66], 0.0)
    bounds = [(None, t1), (t1, t2), (t2, None)]
    for i, (lo, hi) in enumerate(bounds):
        chunk = with_s
        if lo is not None:
            chunk = chunk.where(F.col("_s") > F.lit(lo))
        if hi is not None:
            chunk = chunk.where(F.col("_s") <= F.lit(hi))
        chunk = chunk.drop("_s")
        chunk.coalesce(1).write.mode("overwrite").parquet(str(d / f"chunk{i}"))
    # flatten: file source wants a dir of files; stamp strictly increasing
    # mtimes so the source's modification-time ordering processes chunks in
    # arrival (= event-time) order — ties break arbitrarily otherwise
    flat = tmp_path_factory.mktemp("stream_flat")
    import glob
    import os
    import shutil
    import time

    now = time.time()
    for i, f in enumerate(sorted(glob.glob(str(d / "chunk*" / "*.parquet")))):
        dst = str(flat / f"part{i}.parquet")
        shutil.copy(f, dst)
        os.utime(dst, (now + i * 10, now + i * 10))
    tr.unpersist()
    return str(flat)


def _drain(query):
    query.awaitTermination(300)
    assert not query.isActive


def test_streaming_mentions_equal_batch(spark, stream_dir, tmp_path):
    """The streamed S0→S2 path emits exactly the batch path's mentions."""
    stream = ingest.read_transcript_stream(spark, stream_dir, max_files_per_trigger=1)
    out = (
        ingest.streaming_mentions(stream)
        .writeStream.format("memory")
        .queryName("stream_mentions_t1")
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(out)
    streamed = spark.table("stream_mentions_t1")

    batch = extract.detect_mentions(
        assemble.normalize_turns(spark.read.parquet(stream_dir))
    )
    assert streamed.count() == batch.count() > 0
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_foreach_batch_merge_idempotent(spark, stream_dir, tmp_path):
    """foreachBatch MERGE sink: streaming mentions land in the catalog
    keyed on content; re-running the whole stream (fresh checkpoint —
    worst-case full replay) leaves every file byte-identical."""
    from test_catalog import _files

    from stixtoneodb_spark.plans.catalog import ParquetMergeCatalog

    wh = str(tmp_path / "wh")
    catalog = ParquetMergeCatalog(spark, wh)
    stream = ingest.read_transcript_stream(spark, stream_dir)
    _drain(ingest.start_mention_merge_sink(stream, wh, str(tmp_path / "c1")))
    first_rows = sorted(map(tuple, catalog.read_bucketed("stream_mentions").collect()))
    first_files = _files(catalog._path("stream_mentions"))
    n1 = len(first_rows)

    stream2 = ingest.read_transcript_stream(spark, stream_dir)
    _drain(ingest.start_mention_merge_sink(stream2, wh, str(tmp_path / "c2")))
    second_rows = sorted(map(tuple, catalog.read_bucketed("stream_mentions").collect()))
    assert second_rows == first_rows
    assert _files(catalog._path("stream_mentions")) == first_files

    batch = extract.detect_mentions(
        assemble.normalize_turns(spark.read.parquet(stream_dir))
    )
    assert n1 == batch.count()


@pytest.mark.parametrize("k", [1, 3])
def test_sink_killed_between_renames_converges_on_replay(
    spark, stream_dir, tmp_path, monkeypatch, k
):
    """A sink killed after k of a batch's renames into the buckets leaves a
    readable table without duplicate keys; its staged leftovers are swept
    when the sink restarts on the same checkpoint, and the replayed batch
    fills in exactly the missing rows."""
    import os

    from pyspark.errors import StreamingQueryException

    from stixtoneodb_spark.plans.catalog import ParquetMergeCatalog

    wh, ckpt = str(tmp_path / "wh"), str(tmp_path / "ckpt")
    staging = os.path.join(wh, "_staging", ingest.MENTION_TABLE)
    real_rename = os.rename
    renamed = []

    def rename(src, dst):
        if str(src).startswith(staging):
            if len(renamed) == k:
                raise OSError("killed between renames")
            renamed.append(dst)
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    stream = ingest.read_transcript_stream(spark, stream_dir)
    with pytest.raises(StreamingQueryException):
        ingest.start_mention_merge_sink(stream, wh, ckpt).awaitTermination(300)
    monkeypatch.undo()
    assert len(renamed) == k

    catalog = ParquetMergeCatalog(spark, wh)
    partial = catalog.read_bucketed(ingest.MENTION_TABLE).select("id").collect()
    assert 0 < len(partial) == len({r.id for r in partial})
    leftover = os.listdir(staging)
    assert leftover

    stream2 = ingest.read_transcript_stream(spark, stream_dir)
    _drain(ingest.start_mention_merge_sink(stream2, wh, ckpt))
    assert not any(os.path.exists(os.path.join(staging, n)) for n in leftover)
    ids = [r.id for r in catalog.read_bucketed(ingest.MENTION_TABLE).select("id").collect()]
    assert len(ids) == len(set(ids))
    batch = extract.detect_mentions(
        assemble.normalize_turns(spark.read.parquet(stream_dir))
    )
    assert len(ids) == batch.count()
