"""End-to-end KG construction pipeline S0→S5: one lazily planned dataflow
with a resumable table per stage.

The reference loader's lifecycle is parse → dispatch → project → resolve
refs → write, single-threaded, with skip-and-continue error tolerance and
logged counts (StixToNeoDB.scala:32-58, README.md:83-85).  Here each stage
is a DataFrame transformation whose output is written through the catalog
and read back, so every stage table doubles as a resume point:

- S0 ``s0_ingest`` → ``turns``: normalized turns, clustered by conv_id
  (optionally ingested per conv_id-hash bucket, one checkpoint each);
- S2 ``s2_mentions`` / ``s2_triples`` → ``mentions`` / ``triples_raw``:
  ONE fused extraction pass (``extract.extract_fused``), persisted once,
  both tables written from it;
- S3 ``s3_canonical_map`` → ``canonical_map``: LSH blocking + connected
  components over the distinct mention names (on the driver, in three
  jobs, up to ``canonicalize.DRIVER_CANON_MAX_NAMES`` names);
- S4 ``s4_link`` / ``s4_dropped`` → ``linked_triples`` /
  ``dropped_triples``: ONE ``link.link_triples`` evaluation against the
  name universe and the exception set (``canonical_label != name``) of the
  canonical map, persisted once, both tables written from it;
- S5 ``s5_nodes`` / ``s5_edges`` → ``nodes`` / ``edges``: insert-if-absent
  MERGE, so appending a run adds to the graph.  ``edges`` reads S4's
  persisted join, not the ``linked_triples`` table.

The stages form a DAG, and the ones that do not read each other's output
run as one wave of concurrent Spark jobs, one driver thread per stage
(``_wave``), so the driver does not wait on one job while cores sit idle:

1. ``turns``;
2. ``mentions`` ∥ ``triples_raw``, both from the persisted fused frame;
3. ``canonical_map``;
4. ``linked_triples`` ∥ ``dropped_triples`` ∥ ``nodes`` ∥ ``edges``, from
   the canonical map, the S2 tables and the persisted S4 join.

Each stage thread inherits the caller's job group, local properties and
tags.  A wave returns once all of its stages have ended; a failed stage's
error is re-raised then, and no sibling job is left running.

Resume contract: every stage writes its output table, then appends its own
``_checkpoints`` row (run_id, stage, part, status, rows, wall_s), so a
sibling's failure does not cost a finished stage its resume point.
``run()`` with the same run_id skips stages whose checkpoint row is 'done'
and whose table exists — kill-and-resume yields identical outputs because
all keys are content-derived (functions.ids).  The checkpoint and
``_metrics`` tables are a ledger of driver-written parquet files, one per
appended row (a run's ``_metrics`` rows share one file), renamed into place
after the stage's own table: bookkeeping runs no Spark job.  The checkpoint
ledger is read once per run with pyarrow; row counts ride the stage writes
as Observations.  Every frame a run persists is released before it returns,
so no cache keyed on a warehouse path outlives the run that wrote the path.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from stixtoneodb_spark.plans import assemble, canonicalize, extract, link, materialize
from stixtoneodb_spark.plans.catalog import ParquetMergeCatalog

# Targeted-salting parameters for the S4 name-keyed joins when they
# shuffle (link.salted_dict_join): a name is HOT when it carries
# ≥ 1/HOT_NAME_TARGET of all mentions AND ≥ HOT_NAME_FLOOR absolute, so the
# hot set holds ≤ HOT_NAME_TARGET names regardless of corpus size (always
# broadcastable) and the dictionary replicates only those names
# SALT_BUCKETS ways.  A hot entity's stream rows spread across SALT_BUCKETS
# tasks instead of serializing one exchange partition (AQE's skew split
# does not fire below its byte thresholds, so mid-sized skew silently
# serializes).  16 bounds any key to 1/16 of an exchange.
SALT_BUCKETS = 16
HOT_NAME_TARGET = 100_000
HOT_NAME_FLOOR = 1000
# S4 join strategy bound: vocabularies of at most this many distinct names
# broadcast (the triple stream never shuffles to resolve endpoints, and a
# broadcast hash join is skew-immune); larger ones take the shuffle join
# with targeted salting.  ~8M names ≈ a few hundred MB hashed relation.
BROADCAST_UNIVERSE_MAX = 8_000_000


@dataclass
class PipelineResult:
    nodes: DataFrame
    edges: DataFrame
    dropped_triples: DataFrame
    metrics: dict[str, float] = field(default_factory=dict)


def hot_names(name_type_counts: DataFrame) -> DataFrame:
    """Names above the corpus-relative frequency floor (see HOT_NAME_*),
    from (name, entity_type, cnt) counts — a vocabulary-scale aggregate
    plus a broadcast one-row total, no driver barrier."""
    totals = name_type_counts.groupBy("name").agg(F.sum("cnt").alias("n_tot"))
    total = name_type_counts.agg(F.sum("cnt").alias("_t"))
    return (
        totals.crossJoin(F.broadcast(total))
        .where(
            (F.col("n_tot") >= HOT_NAME_FLOOR)
            & (F.col("n_tot") * HOT_NAME_TARGET >= F.col("_t"))
        )
        .select("name")
    )


class KgPipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        run_id: str = "run-0",
        ingest_buckets: int | None = None,
    ):
        """``ingest_buckets``: when set, S0 ingests conv_id-hash buckets one
        at a time, each with its own checkpoint row (run_id, stage, part) —
        the north-rule per-partition lineage: a killed run resumes at the
        first incomplete bucket instead of redoing the stage.  On Iceberg
        the per-bucket scan prunes to one storage partition
        (``bucket(N, conv_id)``); the parquet fallback re-scans with a
        pushed filter."""
        self.spark = spark
        self.catalog = ParquetMergeCatalog(spark, warehouse)
        self.run_id = run_id
        self.ingest_buckets = ingest_buckets
        self.metrics: dict[str, float] = {}
        self._done: dict[tuple[str, int], int] | None = None
        # guards ``_done`` and ``metrics``: the stages of a wave mark
        # themselves done from their own threads
        self._lock = threading.Lock()

    # The ledger tables (driver-written rows, see ``catalog.append``).
    CKPT_TABLE = "_checkpoints"
    CKPT_SCHEMA = (
        "run_id string, stage string, part long, status string, rows long, wall_s double"
    )
    METRICS_TABLE = "_metrics"
    METRICS_SCHEMA = "run_id string, metric string, value double"

    # Every table this pipeline writes through the catalog — the scope of
    # its staging sweep on resume.  A run killed mid-stage leaves
    # ``_staging/<table>.tmp-*`` dirs for whichever _stage was in flight,
    # and a kill inside a ledger append leaves its file in
    # ``_staging/<ledger table>/``; tables of CONCURRENT writers sharing
    # the warehouse (the streaming merge sink) are deliberately NOT in
    # this list.
    OWNED_TABLES = (
        CKPT_TABLE,
        METRICS_TABLE,
        "turns",
        "mentions",
        "triples_raw",
        "canonical_map",
        "linked_triples",
        "dropped_triples",
        "nodes",
        "edges",
    )

    # -- checkpoint bookkeeping ------------------------------------------
    def _finished(self) -> dict[tuple[str, int], int]:
        """(stage, part) → rows for every stage this run_id has finished:
        one driver-side read of the checkpoint ledger, kept current by
        ``_mark``."""
        if self._done is None:
            rows = self.catalog.read_rows(
                self.CKPT_TABLE, ["run_id", "stage", "part", "status", "rows"]
            )
            self._done = {
                (r["stage"], r["part"]): r["rows"]
                for r in rows
                if r["run_id"] == self.run_id and r["status"] == "done"
            }
        return self._done

    def _mark(self, stage: str, rows: int, wall_s: float, part: int = -1) -> None:
        self.catalog.append(
            self.CKPT_TABLE,
            [(self.run_id, stage, part, "done", rows, float(wall_s))],
            self.CKPT_SCHEMA,
        )
        suffix = f"_p{part}" if part >= 0 else ""
        with self._lock:
            self._finished()[(stage, part)] = rows
            self.metrics[f"{stage}{suffix}_rows"] = rows
            self.metrics[f"{stage}{suffix}_wall_s"] = wall_s

    # -- per-partition (conv_id-bucket) ingest ----------------------------
    def ingest_partitioned(
        self, transcripts: DataFrame, max_buckets: int | None = None
    ) -> DataFrame:
        """S0 with per-bucket checkpoints.  ``max_buckets`` (tests/kill
        simulation) stops after that many buckets — a subsequent call with
        the same run_id resumes at the first incomplete bucket."""
        nb = self.ingest_buckets or 1
        name, table = "s0_ingest", "turns"
        # a killed prior run may have left half-written staging dirs; they
        # are never referenced by a 'done' checkpoint row, so sweep first
        # scoped to this pipeline's own tables: a concurrent writer
        # sharing the warehouse (streaming merge sink) keeps its tmp dirs
        self.catalog.sweep_staging(tables=list(self.OWNED_TABLES))
        norm = assemble.normalize_turns(transcripts)
        todo = range(nb) if max_buckets is None else range(min(nb, max_buckets))
        for b in todo:
            part_dir = f"bucket={b}"
            if (name, b) in self._finished() and self.catalog.partition_exists(table, part_dir):
                continue
            t0 = time.time()
            # observe() rides the write job itself — no second scan of the
            # bucket just to count it
            obs = Observation(f"ingest_b{b}")
            chunk = (
                norm.where(F.pmod(F.xxhash64("conv_id"), F.lit(nb)) == b)
                .repartition("conv_id")
                .observe(obs, F.count(F.lit(1)).alias("rows"))
            )
            self.catalog.overwrite_partition(table, part_dir, chunk)
            self._mark(name, int(obs.get["rows"]), time.time() - t0, part=b)
        return self.catalog.read_partitioned(table).drop("bucket")

    def _stage(self, name: str, table: str, build, key_col: str | None = None) -> DataFrame:
        """One resumable stage: a stage this run already finished is read
        back; otherwise ``build()`` is written (MERGEd on ``key_col`` when
        given), its row count observed on the write job, marked done, and
        the table read back."""
        if (name, -1) in self._finished() and self.catalog.exists(table):
            return self.catalog.read(table)
        t0 = time.time()
        obs = Observation(name)
        df = build().observe(obs, F.count(F.lit(1)).alias("rows"))
        if key_col is not None:
            self.catalog.merge_upsert(table, df, key_col)
        else:
            self.catalog.overwrite(table, df)
        self._mark(name, int(obs.get["rows"]), time.time() - t0)
        return self.catalog.read(table)

    def _wave(self, *stages: tuple) -> list[DataFrame]:
        """Run independent ``_stage`` calls (one argument tuple each) as
        concurrent Spark jobs, one driver thread per stage, and return
        their read-back frames in order.  Each thread inherits the
        caller's job group, local properties and tags.  Every stage marks
        itself done as soon as its own write lands, and the wave returns
        only once every stage has ended, so a failed stage leaves no
        sibling job running; its error is re-raised."""
        with ThreadPoolExecutor(len(stages)) as pool:
            futures = [
                pool.submit(inheritable_thread_target(self.spark)(self._stage), *args)
                for args in stages
            ]
        frames = [f.result() for f in futures]
        # metrics in stage order, whatever order the writes finished in
        for name, *_ in stages:
            for key in (f"{name}_rows", f"{name}_wall_s"):
                if key in self.metrics:
                    self.metrics[key] = self.metrics.pop(key)
        return frames

    # -- the pipeline -----------------------------------------------------
    def run(
        self, transcripts: DataFrame, alias_edges: DataFrame | None = None
    ) -> PipelineResult:
        self._done = None  # this run's view of the checkpoint table
        # Sweep THIS pipeline's staging leftovers before any stage runs —
        # covers the non-bucketed path too (ingest_partitioned repeats the
        # sweep for direct callers; it is idempotent and cheap).
        self.catalog.sweep_staging(tables=list(self.OWNED_TABLES))
        cached: list[DataFrame] = []

        def keep(df: DataFrame) -> DataFrame:
            cached.append(df.persist())
            return df

        try:
            # S0: normalize + repartition by conv_id (the bucketed
            # checkpoint writes need conv_id clustering).
            if self.ingest_buckets:
                turns = self.ingest_partitioned(transcripts)
            else:
                turns = self._stage(
                    "s0_ingest",
                    "turns",
                    lambda: assemble.normalize_turns(transcripts).repartition("conv_id"),
                )

            # S2: the text column crosses the Python boundary once; the
            # persisted tagged stream feeds both table writes.
            fused = keep(extract.extract_fused(turns))
            f_mentions, f_triples = extract.split_fused(fused)
            mentions, triples_raw = self._wave(
                ("s2_mentions", "mentions", lambda: f_mentions),
                ("s2_triples", "triples_raw", lambda: f_triples),
            )

            # S3: canonical map (its connected-components loop runs
            # eagerly inside the call).  S4 and S5 resolve names through
            # the exception set: the map is identity for every other name.
            canon = self._stage(
                "s3_canonical_map",
                "canonical_map",
                lambda: canonicalize.canonical_map(mentions, alias_edges=alias_edges),
            )
            exceptions = canon.where(F.col("canonical_label") != F.col("name")).select(
                "name", F.col("canonical_label").alias("component")
            )
            named = canonicalize.normalize_mentions(mentions)
            # (name, entity_type) counts: map-side combine absorbs hot-name
            # skew; nodes and the hot-name set work at vocabulary size.
            name_type_counts = named.groupBy("name", "entity_type").agg(
                F.count("*").alias("cnt")
            )

            # S4: join strategy from the measured vocabulary (the S3 row
            # count, no extra job); the hot-name set exists only for the
            # shuffle plan, whose salting it drives.  The persisted join
            # feeds both S4 tables and the S5 triple edges.
            broadcast = self._finished()[("s3_canonical_map", -1)] <= BROADCAST_UNIVERSE_MAX
            hot = None
            if not broadcast:
                hot = keep(hot_names(name_type_counts))
                if hot.limit(1).count() == 0:
                    hot = None
            joined = link.link_triples(
                triples_raw,
                name_universe=canon.select("name"),
                exceptions=exceptions,
                hot_names=hot,
                n_salt=SALT_BUCKETS,
                broadcast_universe=broadcast,
            ).joined
            resolved = link.LinkResult(keep(joined))

            # S5: nodes from vocabulary-scale type counts; provenance edges
            # resolve each mention name inline (exception join + sha2).
            def _nodes() -> DataFrame:
                type_counts = (
                    canonicalize.attach_canonical(name_type_counts, exceptions)
                    .groupBy("canonical_id", "canonical_label", "entity_type")
                    .agg(F.sum("cnt").alias("cnt"))
                )
                return materialize.entity_nodes_from_type_counts(type_counts).unionByName(
                    materialize.conversation_nodes(turns)
                )

            def _edges() -> DataFrame:
                mentions_canon = canonicalize.attach_canonical(
                    named.select("name", "conv_id", "turn_idx"), exceptions
                )
                return materialize.triple_edges(resolved.linked).unionByName(
                    materialize.mention_edges(mentions_canon)
                )

            # S4 and S5 read only S3's outputs and the persisted join, so
            # their four writes run as one wave.
            _, dropped, nodes, edges = self._wave(
                ("s4_link", "linked_triples", lambda: resolved.linked),
                ("s4_dropped", "dropped_triples", lambda: resolved.dropped),
                ("s5_nodes", "nodes", _nodes, "id"),
                ("s5_edges", "edges", _edges, "id"),
            )
        finally:
            for df in cached:
                df.unpersist()

        # metrics table (reference A14: counting + logging)
        self._write_metrics()
        return PipelineResult(nodes=nodes, edges=edges, dropped_triples=dropped, metrics=dict(self.metrics))

    def _write_metrics(self) -> None:
        mrows = [(self.run_id, k, float(v)) for k, v in self.metrics.items()]
        if mrows:
            self.catalog.append(self.METRICS_TABLE, mrows, self.METRICS_SCHEMA)
