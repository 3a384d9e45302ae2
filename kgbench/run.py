"""Outside-in benchmark of the KG pipeline's public entry points.

Usage (from the repository root):

    python3 kgbench/run.py --workload graph-build --seed 1 --seconds 10 --trace 0

One process, one SparkSession at ``local[nproc]`` with ``nproc`` shuffle
partitions.  The run builds its seeded inputs, starts the session, runs
one untimed cold op (paid by every CLI run, so it counts in ``setup_s``),
then timed ops until ``--seconds`` have passed.  Every op's output is
checked; a failed check or an exception counts as a failed op.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (see README.md).  Metric lines go to stdout as
``name value unit``; the last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import uuid

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
MB = 1024 * 1024
T0 = time.perf_counter()  # for the progress lines on stderr

END_TO_END_UNITS = {
    "turns_per_s": "turns/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "warehouse_bytes_per_turn": "B/turn",
    "batch_s_p50": "s",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "jvm.gc_s": "s",
    "jvm.heap_used_peak_mb": "MB",
    "pyworker.rss_mb": "MB",
    "pipeline.driver_s": "s",
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "assemble.ingest_s": "s",
    "extract.mentions_s": "s",
    "extract.triples_s": "s",
    "extract.mentions_per_turn": "1/turn",
    "extract.triples_per_turn": "1/turn",
    "canonicalize.map_s": "s",
    "canonicalize.cold_s": "s",
    "canonicalize.names": "count",
    "canonicalize.merged_ratio": "ratio",
    "canonicalize.pair_yield": "ratio",
    "link.s": "s",
    "link.dangling_ratio": "ratio",
    "materialize.nodes_s": "s",
    "materialize.edges_s": "s",
    "catalog.write_s": "s",
    "catalog.read_s": "s",
    "catalog.bytes_written": "B",
    "catalog.files_written": "count",
    "catalog.write_amplification": "ratio",
    "stream.batches": "count",
    "stream.batch_s_p90": "s",
    "stream.add_batch_s": "s",
    "stream.trigger_overhead_s": "s",
    "stream.buckets_rewritten_per_batch": "count",
    "stream.bytes_rewritten_per_batch": "B",
    "trace.overhead_s": "s",
}
STREAM_TIMEOUT_S = 90
HEAP = "2g"


def p90(values: list[float]) -> float:
    """Nearest-rank 90th percentile."""
    s = sorted(values)
    return s[max(0, -(-9 * len(s) // 10) - 1)]


class OpResult:
    def __init__(self, wall: float, turns: int, warehouse: str, held_turns: int,
                 batches: list[dict] | None = None):
        from kgbench.probes import tree_size

        self.wall = wall
        self.turns = turns
        self.warehouse = warehouse
        self.held_turns = held_turns  # turns the warehouse graph holds
        self.batches = batches or []  # streaming progress, one per micro-batch
        self.bytes = tree_size(warehouse)[0]
        self.tag = ""
        self.layer: dict[str, float] = {}  # per-layer metrics of a traced op

    @property
    def batch_walls(self) -> list[float]:
        if self.batches:
            return [b["durationMs"]["triggerExecution"] / 1000.0 for b in self.batches]
        return [self.wall]


class GraphBuild:
    """``KgPipeline.run`` over the seeded corpus into an empty warehouse,
    exactly as the batch CLI calls it."""

    name = "graph-build"
    n_turns = 10_000

    def prepare(self, work: str, seed: int) -> None:
        from kgbench.inputs import write_corpus

        self.corpus = write_corpus(os.path.join(work, "input"), self.n_turns, seed)
        self.reference = None

    def op(self, spark, warehouse: str) -> OpResult:
        from stixtoneodb_spark.plans.pipeline import KgPipeline
        from stixtoneodb_spark.sources.transcripts import alias_edges_df

        t0 = time.perf_counter()
        transcripts = spark.read.parquet(self.corpus.path)
        result = KgPipeline(spark, warehouse).run(transcripts, alias_edges=alias_edges_df(spark))
        wall = time.perf_counter() - t0
        return OpResult(wall, self.corpus.turns, warehouse, int(result.metrics["s0_ingest_rows"]))

    def check(self, spark, res: OpResult) -> list[str]:
        from kgbench.checks import MIN_PR, graph_pr, graph_signature

        sig = graph_signature(res.warehouse, spark)
        if self.reference is None:
            self.reference = sig
            p, r = graph_pr(res.warehouse, spark, self.corpus.truth_triples)
            print(f"# check: triple precision {p:.4f} recall {r:.4f}", file=sys.stderr)
            if p < MIN_PR or r < MIN_PR:
                return [f"triple P/R {p:.4f}/{r:.4f} below {MIN_PR}"]
            return []
        return [] if sig == self.reference else [f"graph {sig} != first op {self.reference}"]


class StreamDrain:
    """``start_mention_merge_sink`` draining the seeded chunk files with
    ``availableNow`` and one file per trigger into a fresh sink."""

    name = "stream-drain"
    n_turns = 10_000
    n_chunks = 2
    table = "stream_mentions"

    def prepare(self, work: str, seed: int) -> None:
        from kgbench.inputs import write_chunks

        self.corpus = write_chunks(
            os.path.join(work, "input"), self.n_turns, seed, self.n_chunks
        )
        self.reference = None

    def op(self, spark, warehouse: str) -> OpResult:
        from stixtoneodb_spark.streaming import ingest

        t0 = time.perf_counter()
        stream = ingest.read_transcript_stream(spark, self.corpus.path, max_files_per_trigger=1)
        q = ingest.start_mention_merge_sink(
            stream, warehouse, os.path.join(warehouse, "_stream_checkpoint")
        )
        try:
            done = q.awaitTermination(STREAM_TIMEOUT_S)
        finally:
            if q.isActive:
                q.stop()
        wall = time.perf_counter() - t0
        if not done:
            raise TimeoutError(f"stream did not drain within {STREAM_TIMEOUT_S}s")
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        turns = sum(int(p["numInputRows"]) for p in batches)
        return OpResult(wall, turns, warehouse, turns, batches)

    def check(self, spark, res: OpResult) -> list[str]:
        from kgbench.checks import batch_mention_signature, stream_signature

        if self.reference is None:
            self.reference = batch_mention_signature(spark, self.corpus.path)
        errors = []
        if res.turns != self.corpus.turns:
            errors.append(f"drained {res.turns} turns, wrote {self.corpus.turns}")
        sig = stream_signature(res.warehouse, spark, self.table)
        if sig != self.reference:
            errors.append(f"sink {sig} != batch detect_mentions {self.reference}")
        return errors


WORKLOADS = {w.name: w for w in (GraphBuild, StreamDrain)}


def pin_environment(work: str) -> None:
    """Session settings fixed from outside the program, before the JVM
    starts: scratch space and heap for this process only."""
    from kgbench.probes import nproc
    from stixtoneodb_spark.session import parallel_gc_threads

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local  # would override spark.local.dir
    # A pre-sized, pre-touched heap, as bench.py runs it: a growing heap
    # makes the first ops slower and the process RSS depend on timing.
    # 2g holds these inputs (the issue's 6g was sized for ~1M turns) and
    # keeps the run small on a shared machine; ParallelGC keeps the
    # session's own thread count for the executor width.
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
        f"-XX:+UseParallelGC -XX:ParallelGCThreads={parallel_gc_threads(nproc())} "
        f"-Xms{HEAP} -XX:+AlwaysPreTouch"
    )
    # Spark's Python workers do not see sys.path edits, only PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # keep every temporary file (Python and JVM) inside the work dir
    os.environ["TMPDIR"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


class Bench:
    def __init__(self, args, out):
        self.args = args
        self.out = out  # the real stdout; fd 1 is sent to stderr
        self.work = os.path.join(BENCH_DIR, ".work", f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
        self.workload = WORKLOADS[args.workload]()
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.probe = None
        self.sampler = None
        self.jvm_proc = None

    def emit(self, line: str) -> None:
        self.out.write(line + "\n")
        self.out.flush()

    # -- one op: run, check, measure, clean up ----------------------------
    def run_op(self, tag: str, tracer=None, after=None):
        """Run, check and clean up one op.  Returns its OpResult, or None
        when it raised or failed its check (counted in ``failed``).
        ``after(res)`` runs on a passed op before its warehouse goes."""
        self.attempted += 1
        warehouse = os.path.join(self.work, f"warehouse-{tag}")
        res = None
        try:
            if tracer is None:
                res = self.workload.op(self.spark, warehouse)
            else:
                res = self.traced_op(tracer, tag, warehouse)
            errors = self.workload.check(self.spark, res)
            if not errors and after is not None:
                after(res)
        except Exception:  # noqa: BLE001 - any failure of an op is counted, the run goes on
            traceback.print_exc()
            errors = [f"op {tag} raised"]
        finally:
            shutil.rmtree(warehouse, ignore_errors=True)
        wall = f"{res.wall:.1f}s" if res is not None else "-"
        print(f"# op {tag} wall {wall}, done at {time.perf_counter() - T0:.1f}s", file=sys.stderr)
        if errors:
            self.failed += 1
            print(f"# op {tag} FAILED: {'; '.join(errors)}", file=sys.stderr)
            return None
        return res

    def traced_op(self, tracer, tag: str, warehouse: str) -> OpResult:
        """One op under the tracer; JVM and process probes are read right
        at its end, before any check job runs."""
        probe = self.probe
        self.sampler.reset()
        probe.reset_heap_peak()
        gc0, job0 = probe.gc_s(), probe.next_job_id()
        with tracer.op(tag):
            res = self.workload.op(self.spark, warehouse)
        job1 = probe.next_job_id()
        self.sampler.sample()
        res.tag = tag
        res.layer = tracer.layer_metrics(tag, res.wall)
        res.layer.update({
            "jvm.gc_s": probe.gc_s() - gc0,
            "jvm.heap_used_peak_mb": probe.heap_peak_mb(),
            "pyworker.rss_mb": self.sampler.peak_workers / MB,
            "pipeline.jobs": float(job1 - job0),
            "pipeline.tasks": float(probe.tasks(job0, job1)),
        })
        return res

    def main(self) -> int:
        from kgbench.probes import JvmProbe, RssSampler, host_context, nproc

        args = self.args
        os.makedirs(self.work)
        pin_environment(self.work)
        sys.path.insert(0, ROOT)
        self.workload.prepare(self.work, args.seed)

        from stixtoneodb_spark.session import get_spark

        self.sampler = RssSampler()
        self.sampler.start()
        n = nproc()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="kgbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf={"spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse")},
        )
        session_s = time.perf_counter() - t0
        print(f"# session up at {time.perf_counter() - T0:.1f}s ({session_s:.1f}s)", file=sys.stderr)
        self.jvm_proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.probe = JvmProbe(self.spark)
        self.sampler.jvm_pid = self.probe.pid

        if args.trace:
            metrics = self.traced(session_s)
        else:
            metrics = self.timed(session_s)
        if metrics is None:
            return 1
        units = END_TO_END_UNITS if not args.trace else PER_LAYER_UNITS
        result = {name: {"value": float(metrics[name]), "unit": unit} for name, unit in units.items()}
        for name, m in result.items():
            self.emit(f"{name} {m['value']:.6g} {m['unit']}")
        self.emit(f"failed_ops_ratio {self.failed / self.attempted:.6g} ratio")
        for k, v in host_context().items():
            self.emit(f"# host {k} {v}")
        self.emit(json.dumps({
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": result,
        }))
        return 0

    # -- untraced: end-to-end metrics --------------------------------------
    def timed(self, session_s: float) -> dict | None:
        cold = self.run_op("cold")
        if cold is None:
            return None
        setup_s = session_s + cold.wall
        ops: list[OpResult] = []
        t0 = time.perf_counter()
        while not ops or time.perf_counter() - t0 < self.args.seconds:
            res = self.run_op(f"t{len(ops) + self.failed}")
            if res is not None:
                ops.append(res)
            elif self.failed > 3:
                break
        self.sampler.sample()
        if not ops:
            return None
        return {
            "turns_per_s": statistics.median(r.turns / r.wall for r in ops),
            "setup_s": setup_s,
            "peak_rss_mb": self.sampler.peak_total / MB,
            "warehouse_bytes_per_turn": statistics.median(r.bytes / r.held_turns for r in ops),
            "batch_s_p50": statistics.median(w for r in ops for w in r.batch_walls),
        }

    # -- traced: per-layer metrics ------------------------------------------
    def traced(self, session_s: float) -> dict | None:
        from kgbench.tracing import Tracer

        tracer = Tracer()

        def counts(res: OpResult) -> None:
            res.layer.update(self.counts(tracer, res))

        tracer.install()
        cold = self.run_op("cold", tracer)
        tracer.uninstall()
        if cold is None:
            return None
        # one untraced warm op: the reference for the tracing overhead
        plain = self.run_op("plain")
        if plain is None:
            return None
        tracer.install()
        ops: list[OpResult] = []
        t0 = time.perf_counter()
        while not ops or time.perf_counter() - t0 < self.args.seconds:
            res = self.run_op(f"t{len(ops) + self.failed}", tracer, counts)
            if res is not None:
                ops.append(res)
            elif self.failed > 3:
                break
        tracer.uninstall()
        if not ops:
            return None
        metrics = {
            k: statistics.median(r.layer[k] for r in ops)
            for k in ops[0].layer
            if not k.startswith("_")
        }
        metrics["session.start_s"] = session_s
        metrics["canonicalize.cold_s"] = cold.layer["canonicalize.map_s"]
        metrics["trace.overhead_s"] = statistics.median(r.wall for r in ops) - plain.wall
        tracer.dump(
            self.args.trace_out
            or os.path.join(BENCH_DIR, "traces", f"{self.workload.name}-seed{self.args.seed}.json"),
            {
                "workload": self.workload.name,
                "seed": self.args.seed,
                "untraced_op_wall_s": plain.wall,
                "traced_op_walls_s": [r.wall for r in ops],
                "metrics": metrics,
            },
        )
        return metrics

    def counts(self, tracer, res: OpResult) -> dict[str, float]:
        """Counts and ratios of a traced op's output (untimed)."""
        from pyspark.sql import functions as F

        from stixtoneodb_spark.plans.catalog import ParquetMergeCatalog

        cat = ParquetMergeCatalog(self.spark, res.warehouse)
        row = res.layer
        growth = res.bytes  # every op starts from an empty warehouse
        out = {
            "extract.mentions_per_turn": 0.0,
            "extract.triples_per_turn": 0.0,
            "canonicalize.names": 0.0,
            "canonicalize.merged_ratio": 0.0,
            "canonicalize.pair_yield": 0.0,
            "link.dangling_ratio": 0.0,
            "catalog.write_amplification": row["catalog.bytes_written"] / growth,
            "stream.batches": float(len(res.batches)),
            "stream.batch_s_p90": 0.0,
            "stream.add_batch_s": 0.0,
            "stream.trigger_overhead_s": 0.0,
            "stream.buckets_rewritten_per_batch": 0.0,
            "stream.bytes_rewritten_per_batch": 0.0,
        }
        if res.batches:
            nb = len(res.batches)
            add = [b["durationMs"]["addBatch"] / 1000.0 for b in res.batches]
            out.update({
                "extract.mentions_per_turn": cat.read_bucketed(self.workload.table).count() / res.turns,
                "stream.batch_s_p90": p90(res.batch_walls),
                "stream.add_batch_s": statistics.median(add),
                "stream.trigger_overhead_s": statistics.median(
                    w - a for w, a in zip(res.batch_walls, add)
                ),
                "stream.buckets_rewritten_per_batch": row["_stream.partitions_rewritten"] / nb,
                "stream.bytes_rewritten_per_batch": row["_stream.bytes_rewritten"] / nb,
            })
            return out
        turns = res.held_turns
        cmap = cat.read("canonical_map")
        names = cmap.count()
        linked, dropped = cat.read("linked_triples").count(), cat.read("dropped_triples").count()
        pairs = tracer.captured_pairs.get(res.tag, [])
        n_pairs = same = 0
        ids = cmap.select("name", "canonical_id")
        for p in pairs:
            joined = (
                p.join(ids.toDF("name_a", "id_a"), "name_a")
                .join(ids.toDF("name_b", "id_b"), "name_b")
            )
            n_pairs += p.count()
            same += joined.where(F.col("id_a") == F.col("id_b")).count()
        out.update({
            "extract.mentions_per_turn": cat.read("mentions").count() / turns,
            "extract.triples_per_turn": cat.read("triples_raw").count() / turns,
            "canonicalize.names": float(names),
            "canonicalize.merged_ratio": cmap.where(F.col("canonical_label") != F.col("name")).count()
            / max(names, 1),
            "canonicalize.pair_yield": same / n_pairs if n_pairs else 0.0,
            "link.dangling_ratio": dropped / max(linked + dropped, 1),
        })
        return out

    # -- teardown -------------------------------------------------------------
    def close(self) -> None:
        """Stop the session, wait for the JVM and its Python workers to
        exit (killing what does not), then remove the work dir."""
        from kgbench.probes import wait_gone

        try:
            pids = set()
            if self.sampler is not None:
                self.sampler.stop()
                pids = set(self.sampler.seen_pids)
            if self.spark is not None:
                try:
                    self.spark.stop()
                    self.spark.sparkContext._gateway.shutdown()
                except Exception:  # noqa: BLE001 - the JVM is stopped below either way
                    traceback.print_exc()
            if self.jvm_proc is not None:
                self.jvm_proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    self.jvm_proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    self.jvm_proc.kill()
                    self.jvm_proc.wait()
            for pid in wait_gone(pids, 15):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            wait_gone(pids, 5)
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            with contextlib.suppress(OSError):  # only if no other run uses it
                os.rmdir(os.path.dirname(self.work))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="timed phase length")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--trace-out", default=None, help="span JSON path (traced runs)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # Spark, py4j and the JVM write to fd 1; only this script's metric
    # lines may reach stdout, so fd 1 goes to stderr and results are
    # written to a duplicate of the original stdout.
    sys.stdout.flush()
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    bench = Bench(args, out)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return bench.main()
    finally:
        bench.close()


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
