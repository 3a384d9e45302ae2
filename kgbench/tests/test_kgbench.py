"""Tiny-scale tests of the benchmark itself (not of the program).

Run from the repository root:

    python3 -m pytest kgbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import glob
import io
import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from kgbench import run  # noqa: E402
from kgbench.tracing import TABLE_LAYER  # noqa: E402

TINY = 800  # turns per corpus
SEED = 5

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run_tiny(workload: str, trace: int, trace_out: str) -> list[str]:
    """The real entry point in a fresh process, with tiny corpora."""
    code = (
        "import sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from kgbench import run\n"
        f"run.GraphBuild.n_turns = run.StreamDrain.n_turns = {TINY}\n"
        "sys.exit(run.main(sys.argv[1:]))\n"
    )
    argv = ["--workload", workload, "--seed", str(SEED), "--seconds", "0.1",
            "--trace", str(trace), "--trace-out", trace_out]
    p = subprocess.run([sys.executable, "-c", code, *argv], cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    return p.stdout.splitlines()


def assert_metrics(lines: list[str], spec_metrics: list[dict]) -> dict:
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 2
    expected = {m["name"]: m["unit"] for m in spec_metrics}
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == expected
    printed = {line.split()[0]: line.split()[2] for line in lines[:-1] if not line.startswith("#")}
    for name, unit in expected.items():
        assert printed[name] == unit
        assert isinstance(result["metrics"][name]["value"], float)
    assert printed["failed_ops_ratio"] == "ratio"
    return result


def test_every_end_to_end_metric_is_printed_with_name_and_unit(tmp_path):
    lines = run_tiny("graph-build", 0, str(tmp_path / "unused.json"))
    result = assert_metrics(lines, SPEC["end_to_end"])
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert not os.path.exists(tmp_path / "unused.json")


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    out = {}
    for w in ("graph-build", "stream-drain"):
        path = str(tmp_path_factory.mktemp("trace") / f"{w}.json")
        out[w] = (run_tiny(w, 1, path), path)
    return out


def test_traced_run_prints_every_per_layer_metric(traced):
    for lines, _path in traced.values():
        assert_metrics(lines, SPEC["per_layer"])


SPAN_OF = {
    "graph-build": "canonicalize.canonical_map",
    "stream-drain": "catalog.merge_upsert_bucketed",
}


def test_traced_json_holds_spans_for_every_layer(traced):
    layers = set()
    for workload, (_lines, path) in traced.items():
        with open(path) as f:
            doc = json.load(f)
        assert doc["workload"] == workload
        assert "trace.overhead_s" in doc["metrics"]
        assert doc["untraced_op_wall_s"] > 0 and doc["traced_op_walls_s"]
        for s in doc["spans"]:
            assert s["end"] >= s["start"]
            assert set(s) == {"id", "name", "start", "end", "parent", "op", "attrs"}
        layers |= {s["attrs"]["layer"] for s in doc["spans"] if "layer" in s["attrs"]}
        names = {s["name"] for s in doc["spans"]}
        assert {"op", SPAN_OF[workload]} <= names
    assert set(TABLE_LAYER.values()) <= layers


# -- the check counts a corrupted output as a failed op ----------------------


def _drop_one_file(table_dir: str) -> None:
    files = sorted(glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True),
                   key=os.path.getsize)
    os.remove(files[-1])


class CorruptGraph(run.GraphBuild):
    n_turns = TINY

    def op(self, spark, warehouse):
        res = super().op(spark, warehouse)
        if self.reference is not None:  # every op after the reference op
            _drop_one_file(os.path.join(warehouse, "nodes"))
        return res


class CorruptStream(run.StreamDrain):
    n_turns = TINY

    def op(self, spark, warehouse):
        res = super().op(spark, warehouse)
        if self.reference is not None:
            _drop_one_file(os.path.join(warehouse, self.table))
        return res


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from stixtoneodb_spark.session import get_spark

    s = get_spark(app_name="kgbench-tests", master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.mark.parametrize("workload", [CorruptGraph, CorruptStream])
def test_corrupted_output_counts_as_failed_op(spark, tmp_path, workload):
    args = SimpleNamespace(workload=workload.name, seed=SEED, seconds=0.1, trace=0, trace_out=None)
    bench = run.Bench(args, io.StringIO())
    bench.work = str(tmp_path)
    bench.spark = spark
    bench.workload = workload()
    bench.workload.prepare(bench.work, SEED)
    assert bench.run_op("cold") is not None
    assert bench.run_op("t0") is None
    assert (bench.attempted, bench.failed) == (2, 1)
