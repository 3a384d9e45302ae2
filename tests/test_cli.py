"""spark-submit entry point (python -m stixtoneodb_spark) smoke tests.

Runs the CLI in-process against a tiny corpus: batch mode produces the
warehouse tables and is resumable; a second run with the same run-id
resumes from checkpoints without recomputing.
"""

from __future__ import annotations

import json

import pytest

from stixtoneodb_spark.__main__ import main
from stixtoneodb_spark.sources.transcripts import transcripts_df


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("cli_in")
    transcripts_df(spark, 20).write.mode("overwrite").parquet(str(d / "tr"))
    return str(d / "tr")


def test_cli_batch_mode(spark, corpus_path, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    rc = main(["--input", corpus_path, "--warehouse", wh, "--run-id", "t1"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["mode"] == "batch" and out["run_id"] == "t1"
    nodes = spark.read.parquet(wh + "/nodes")
    edges = spark.read.parquet(wh + "/edges")
    assert nodes.count() > 0 and edges.count() > 0
    # graph invariant: every edge endpoint resolves to a node
    ids = nodes.select("id")
    assert edges.join(ids, edges.src == ids.id, "left_anti").count() == 0


def test_cli_resume_same_run_id(spark, corpus_path, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    main(["--input", corpus_path, "--warehouse", wh, "--run-id", "t2"])
    first = sorted(map(tuple, spark.read.parquet(wh + "/nodes").collect()))
    capsys.readouterr()
    rc = main(["--input", corpus_path, "--warehouse", wh, "--run-id", "t2"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # resume path: no stage re-ran, so no new stage metrics were recorded
    assert out["metrics"] == {}
    second = sorted(map(tuple, spark.read.parquet(wh + "/nodes").collect()))
    assert second == first


def test_cli_graphml_export(spark, corpus_path, tmp_path, capsys):
    import xml.etree.ElementTree as ET

    wh = str(tmp_path / "wh")
    gml = str(tmp_path / "g.graphml")
    rc = main(
        ["--input", corpus_path, "--warehouse", wh, "--run-id", "t3", "--export-graphml", gml]
    )
    assert rc == 0
    tree = ET.parse(gml)
    ns = {"g": "http://graphml.graphdrawing.org/xmlns"}
    assert len(tree.findall(".//g:node", ns)) == spark.read.parquet(wh + "/nodes").count()


def test_cli_stream_mode(spark, corpus_path, tmp_path, capsys):
    """``--mode stream`` drains the chunk dir into ``stream_mentions``, whose
    rows equal batch mention detection keyed on content; a second run on
    the same warehouse resumes from its checkpoint and writes no data
    file."""
    from pyspark.sql import functions as F
    from test_catalog import _data_files

    from stixtoneodb_spark.plans import assemble, extract
    from stixtoneodb_spark.plans.catalog import ParquetMergeCatalog
    from stixtoneodb_spark.streaming.ingest import MENTION_TABLE

    wh = str(tmp_path / "wh")
    argv = ["--input", corpus_path, "--warehouse", wh, "--mode", "stream"]
    assert main(argv) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"mode": "stream", "status": "drained"}

    catalog = ParquetMergeCatalog(spark, wh)
    batch = extract.detect_mentions(assemble.normalize_turns(spark.read.parquet(corpus_path)))
    content_key = F.sha2(
        F.concat_ws("|", "conv_id", F.col("turn_idx").cast("string"), "surface", "start"), 256
    )
    expected = sorted(map(tuple, batch.select(content_key.alias("id"), *batch.columns).collect()))
    streamed = catalog.read_bucketed(MENTION_TABLE).select("id", *batch.columns)
    assert sorted(map(tuple, streamed.collect())) == expected
    assert expected

    files = _data_files(catalog._path(MENTION_TABLE))
    assert main(argv) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"mode": "stream", "status": "drained"}
    assert _data_files(catalog._path(MENTION_TABLE)) == files


@pytest.mark.parametrize("flag", ["--export-graphml", "--export-cypher"])
def test_cli_stream_mode_rejects_export_flags(tmp_path, capsys, monkeypatch, flag):
    """Stream mode builds no graph, so an export flag with it is a usage
    error: argparse exits 2 naming the flag before any session starts."""
    import stixtoneodb_spark.session as session

    def no_session(*args, **kwargs):
        raise AssertionError("a session was started")

    monkeypatch.setattr(session, "get_spark", no_session)
    argv = ["--input", "in", "--warehouse", str(tmp_path / "wh"), "--mode", "stream"]
    with pytest.raises(SystemExit) as exit_:
        main([*argv, flag, str(tmp_path / "out")])
    assert exit_.value.code == 2
    assert flag in capsys.readouterr().err


def test_spark_submit_py_files_end_to_end(tmp_path):
    """REAL ``spark-submit --py-files stixtoneodb_spark.zip`` launch (the
    north rule's mandated invocation): the package is zipped, the job runs
    from an empty cwd (imports must come from the shipped zip, not the
    repo checkout), and the warehouse it writes is checked."""
    import os
    import subprocess
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "stixtoneodb_spark")
    zpath = tmp_path / "stixtoneodb_spark.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, repo))

    runner = tmp_path / "job.py"
    runner.write_text(
        "import sys\n"
        "from stixtoneodb_spark.__main__ import main\n"
        "sys.exit(main(sys.argv[1:]))\n"
    )
    # corpus written by a tiny inline generator inside the submitted job
    gen = tmp_path / "gen.py"
    gen.write_text(
        "import sys\n"
        "from stixtoneodb_spark.session import get_spark\n"
        "from stixtoneodb_spark.sources.transcripts import transcripts_df\n"
        "spark = get_spark(master='local[2]', shuffle_partitions=2)\n"
        "transcripts_df(spark, 20).write.mode('overwrite').parquet(sys.argv[1])\n"
    )
    wh = str(tmp_path / "wh")
    corpus = str(tmp_path / "tr")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cwd = str(tmp_path / "empty")
    os.makedirs(cwd)
    for script, args in ((gen, [corpus]), (runner, ["--input", corpus, "--warehouse", wh, "--run-id", "sub1", "--master", "local[2]"])):
        r = subprocess.run(
            ["spark-submit", "--master", "local[2]", "--py-files", str(zpath), str(script), *args],
            capture_output=True,
            text=True,
            timeout=420,
            cwd=cwd,
            env=env,
        )
        assert r.returncode == 0, r.stderr[-2000:]
    assert os.path.exists(os.path.join(wh, "nodes", "_SUCCESS"))
    assert os.path.exists(os.path.join(wh, "edges", "_SUCCESS"))
