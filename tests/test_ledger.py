"""Job-free bookkeeping: the checkpoint/metrics ledger is written and read on
the driver with pyarrow, and stage read-backs carry the schema stored in the
table's parquet footer, so neither starts a Spark job.  Crash safety: a ledger file a killed append left
in staging is swept unread, and a ledger Spark wrote (one
``createDataFrame(...).write.mode("append")`` per row) still resumes."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest

from stixtoneodb_spark.plans.catalog import ParquetMergeCatalog
from stixtoneodb_spark.plans.pipeline import KgPipeline
from stixtoneodb_spark.sources.transcripts import alias_edges_df, transcripts_df

N_CONV = 20
RUN_ID = "ledger"
STAGE_TABLES = {
    "s0_ingest": "turns",
    "s2_mentions": "mentions",
    "s2_triples": "triples_raw",
    "s3_canonical_map": "canonical_map",
    "s4_link": "linked_triples",
    "s4_dropped": "dropped_triples",
    "s5_nodes": "nodes",
    "s5_edges": "edges",
}


def count_jobs(spark, fn, *args):
    """``(fn(*args), Spark jobs fn started)``: the calling thread runs under
    a fresh job group, and the status tracker lists that group's jobs once
    the listener bus has delivered every event."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def stage_rows(metrics: dict) -> set[str]:
    return {k[: -len("_rows")] for k in metrics if k.endswith("_rows")}


@pytest.fixture(scope="module")
def corpus(spark):
    return transcripts_df(spark, N_CONV).cache(), alias_edges_df(spark)


def run_counting_reads(spark, pipe, tr, aliases):
    """``(pipe.run(...), [(table, jobs)] of every catalog.read in it)``."""
    orig_read = pipe.catalog.read
    reads: list[tuple[str, int]] = []

    def counted_read(table):
        df, n = count_jobs(spark, orig_read, table)
        reads.append((table, n))
        return df

    pipe.catalog.read = counted_read
    try:
        return pipe.run(tr, alias_edges=aliases), reads
    finally:
        del pipe.catalog.read


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    """One run whose every ``catalog.read`` records the jobs it started."""
    tr, aliases = corpus
    pipe = KgPipeline(spark, str(tmp_path_factory.mktemp("wh_ledger")), run_id=RUN_ID)
    res, reads = run_counting_reads(spark, pipe, tr, aliases)
    return pipe, res, reads


def copy_warehouse(pipe, dst) -> str:
    wh = str(dst / "wh")
    shutil.copytree(pipe.catalog.warehouse, wh)
    return wh


def test_job_counter_sees_jobs(spark):
    # guards the zero-job assertions below against a counter that sees nothing
    assert count_jobs(spark, lambda: spark.range(3).count())[1] >= 1


def test_mark_and_write_metrics_start_no_spark_job(spark, tmp_path):
    wh = str(tmp_path / "wh")
    pipe = KgPipeline(spark, wh, run_id="m")

    def bookkeeping():
        pipe._mark("s0_ingest", 7, 0.5)
        pipe._write_metrics()

    assert count_jobs(spark, bookkeeping)[1] == 0
    done, n = count_jobs(spark, KgPipeline(spark, wh, run_id="m")._finished)
    assert n == 0 and done == {("s0_ingest", -1): 7}
    # Spark reads the driver-written ledger like any other table
    ck = spark.read.parquet(os.path.join(wh, KgPipeline.CKPT_TABLE)).collect()
    assert [tuple(r) for r in ck] == [("m", "s0_ingest", -1, "done", 7, 0.5)]
    metrics = spark.read.parquet(os.path.join(wh, KgPipeline.METRICS_TABLE))
    assert {(r.metric, r.value) for r in metrics.collect()} == {
        ("s0_ingest_rows", 7.0),
        ("s0_ingest_wall_s", 0.5),
    }


def test_stage_read_backs_start_no_spark_job(built):
    _, _, reads = built
    assert sorted(t for t, _ in reads) == sorted(STAGE_TABLES.values())
    assert all(n == 0 for _, n in reads), reads


def test_read_schema_equals_inferred_schema(spark, built):
    pipe, _, _ = built
    fresh = ParquetMergeCatalog(spark, pipe.catalog.warehouse)
    for table in STAGE_TABLES.values():
        inferred = spark.read.parquet(os.path.join(pipe.catalog.warehouse, table)).schema
        assert pipe.catalog.read(table).schema == inferred, table
        # so does a catalog instance that did not write the table
        assert fresh.read(table).schema == inferred, table


def test_resumed_read_backs_start_no_spark_job(spark, corpus, built, tmp_path):
    """A fresh pipeline resuming a finished run skips every stage; reading
    back the tables the first run's catalog wrote starts no schema job."""
    tr, aliases = corpus
    pipe, _, _ = built
    resumed = KgPipeline(spark, copy_warehouse(pipe, tmp_path), run_id=RUN_ID)
    res, reads = run_counting_reads(spark, resumed, tr, aliases)
    assert res.metrics == {}  # nothing re-ran
    assert sorted(t for t, _ in reads) == sorted(STAGE_TABLES.values())
    assert all(n == 0 for _, n in reads), reads


def test_killed_ledger_append_is_swept_and_never_read(spark, corpus, built, tmp_path, monkeypatch):
    """A kill between the pyarrow write and the rename leaves the ledger file
    in ``_staging/<ledger table>/``.  The next run sweeps it before reading
    the ledger, so its 'done' rows never skip a stage."""
    tr, aliases = corpus
    pipe, _, _ = built
    wh = copy_warehouse(pipe, tmp_path)
    shutil.rmtree(os.path.join(wh, KgPipeline.CKPT_TABLE))
    cat = ParquetMergeCatalog(spark, wh)

    class Killed(Exception):
        pass

    def killed(*_args):
        raise Killed("killed before the rename")

    monkeypatch.setattr(os, "rename", killed)
    fake = [(RUN_ID, stage, -1, "done", -1, 0.0) for stage in STAGE_TABLES]
    for table, rows, schema in (
        (KgPipeline.CKPT_TABLE, fake, KgPipeline.CKPT_SCHEMA),
        (KgPipeline.METRICS_TABLE, [(RUN_ID, "x", -1.0)], KgPipeline.METRICS_SCHEMA),
    ):
        with pytest.raises(Killed):
            cat.append(table, rows, schema)
    monkeypatch.undo()
    leftovers = [
        os.path.join(wh, "_staging", t, f)
        for t in (KgPipeline.CKPT_TABLE, KgPipeline.METRICS_TABLE)
        for f in os.listdir(os.path.join(wh, "_staging", t))
    ]
    assert len(leftovers) == 2
    assert not cat.exists(KgPipeline.CKPT_TABLE)

    res = KgPipeline(spark, wh, run_id=RUN_ID).run(tr, alias_edges=aliases)
    assert stage_rows(res.metrics) == set(STAGE_TABLES)  # every stage re-ran
    for f in leftovers:
        assert not os.path.exists(f), f
    ledger = cat.read_rows(KgPipeline.CKPT_TABLE, ["stage", "rows"])
    assert len(ledger) == len(STAGE_TABLES) and all(r["rows"] >= 0 for r in ledger)
    assert all(r["value"] != -1.0 for r in cat.read_rows(KgPipeline.METRICS_TABLE, ["value"]))


def test_spark_written_ledger_resumes_without_rerun(spark, corpus, built, tmp_path):
    """A warehouse whose ``_checkpoints`` Spark wrote, one append job per
    row as earlier versions did, resumes with no stage re-run; a row the
    driver appends next to those files is read with them."""
    tr, aliases = corpus
    pipe, res, _ = built
    wh = copy_warehouse(pipe, tmp_path)
    ckpt = os.path.join(wh, KgPipeline.CKPT_TABLE)
    rows = [tuple(r) for r in spark.read.parquet(ckpt).collect()]
    assert len(rows) == len(STAGE_TABLES)
    shutil.rmtree(ckpt)
    for row in rows:
        spark.createDataFrame([row], KgPipeline.CKPT_SCHEMA).write.mode("append").parquet(ckpt)

    resumed = KgPipeline(spark, wh, run_id=RUN_ID)
    res2 = resumed.run(tr, alias_edges=aliases)
    assert res2.metrics == {}  # nothing re-ran
    for table in ("nodes", "edges", "dropped_triples"):
        got = getattr(res2, table)
        want = getattr(res, table)
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0, table

    resumed._mark("extra", 1, 0.0)
    done = KgPipeline(spark, wh, run_id=RUN_ID)._finished()
    assert done == {**{(r[1], r[2]): r[4] for r in rows}, ("extra", -1): 1}


def test_every_job_of_a_run_is_in_the_callers_job_group(spark, corpus, tmp_path):
    """Stages that run on pipeline threads inherit the caller's job group,
    so ``count_jobs`` sees every job a run starts: job ids are handed out
    in sequence, and the group must hold the whole range."""
    tr, aliases = corpus
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    pipe = KgPipeline(spark, str(tmp_path / "wh"), run_id="group")
    first = int(dag.nextJobId())
    _, counted = count_jobs(spark, pipe.run, tr, aliases)
    started = int(dag.nextJobId()) - first
    assert started > 0 and counted == started, (counted, started)
