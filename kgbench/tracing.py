"""Traced-run mode: spans around the calls into each layer's public API.

The pipeline stages are lazy DataFrames, so a stage's time is the span of
the catalog write that forces it; the table written names the stage.
``canonicalize.canonical_map`` is wrapped on its own because its
connected-components loop runs eagerly when the stage's frame is built.
Spans are kept in memory and written as JSON when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from kgbench.probes import tree_size
from stixtoneodb_spark.plans import canonicalize
from stixtoneodb_spark.plans.catalog import ParquetMergeCatalog

# table written -> layer whose lazy plan the write forces
TABLE_LAYER = {
    "turns": "assemble.ingest",
    "mentions": "extract.mentions",
    "triples_raw": "extract.triples",
    "canonical_map": "canonicalize.map",
    "linked_triples": "link",
    "dropped_triples": "link",
    "nodes": "materialize.nodes",
    "edges": "materialize.edges",
    "stream_mentions": "stream.merge",
    "_checkpoints": "pipeline.bookkeeping",
    "_metrics": "pipeline.bookkeeping",
}
STAGE_LAYERS = {layer for layer in TABLE_LAYER.values() if not layer.startswith("pipeline.")}
WRITE_METHODS = ("overwrite", "merge_upsert", "append", "merge_upsert_bucketed", "overwrite_partition")
READ_METHODS = ("read", "read_partitioned", "read_bucketed")
# the catalog calls that write files themselves (merge_upsert_bucketed
# writes through overwrite_partition, so its bytes are its children's)
LEAF_WRITES = ("overwrite", "merge_upsert", "append", "overwrite_partition")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.captured_pairs: dict[str, list] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: str | None = None
        self._root: int | None = None
        self._originals: dict = {}

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            sid = len(self.spans)
            sp = Span(sid, name, time.perf_counter(), 0.0, parent, self._op, attrs)
            self.spans.append(sp)
        stack.append(sid)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()

    @contextmanager
    def op(self, op_id: str):
        """Root span of one op; spans from any thread attach under it."""
        self._op = op_id
        with self.span("op", op_id=op_id) as root:
            self._root = root.id
            try:
                yield root
            finally:
                self._root = None
                self._op = None

    # -- wrapping the public callables -----------------------------------
    def install(self) -> None:
        tracer = self

        def wrap_catalog(method: str):
            orig = getattr(ParquetMergeCatalog, method)
            kind = "write" if method in WRITE_METHODS else "read"

            def traced(cat, table, *args, **kwargs):
                layer = TABLE_LAYER.get(table, "other")
                with tracer.span(f"catalog.{method}", table=table, layer=layer, kind=kind) as sp:
                    path = os.path.join(cat.warehouse, table)
                    if method == "overwrite_partition":
                        path = os.path.join(path, args[0] if args else kwargs["partition"])
                    before = tree_size(path) if method == "append" else (0, 0)
                    out = orig(cat, table, *args, **kwargs)
                    if method in LEAF_WRITES:
                        after = tree_size(path)
                        sp.attrs["bytes"] = after[0] - before[0]
                        sp.attrs["files"] = after[1] - before[1]
                    return out

            return traced

        for m in WRITE_METHODS + READ_METHODS:
            self._originals[(ParquetMergeCatalog, m)] = getattr(ParquetMergeCatalog, m)
            setattr(ParquetMergeCatalog, m, wrap_catalog(m))

        orig_map = canonicalize.canonical_map
        orig_pairs = canonicalize.candidate_pairs

        def canonical_map(*args, **kwargs):
            with tracer.span("canonicalize.canonical_map", layer="canonicalize.map"):
                return orig_map(*args, **kwargs)

        def candidate_pairs(*args, **kwargs):
            out = orig_pairs(*args, **kwargs)
            tracer.captured_pairs.setdefault(tracer._op, []).append(out)
            return out

        self._originals[(canonicalize, "canonical_map")] = orig_map
        self._originals[(canonicalize, "candidate_pairs")] = orig_pairs
        canonicalize.canonical_map = canonical_map
        canonicalize.candidate_pairs = candidate_pairs

    def uninstall(self) -> None:
        for (owner, name), orig in self._originals.items():
            setattr(owner, name, orig)
        self._originals.clear()

    # -- per-op layer metrics --------------------------------------------
    def op_spans(self, op_id: str) -> list[Span]:
        return [s for s in self.spans if s.op == op_id and s.name != "op"]

    def layer_metrics(self, op_id: str, op_wall: float) -> dict[str, float]:
        spans = self.op_spans(op_id)
        by_id = {s.id: s for s in self.spans}

        def is_write(s: Span) -> bool:
            return s.attrs.get("kind") == "write"

        outer_writes = [
            s for s in spans if is_write(s) and not (s.parent in by_id and is_write(by_id[s.parent]))
        ]

        def layer_s(*layers: str) -> float:
            return sum(s.dur for s in outer_writes if s.attrs["layer"] in layers)

        cmap_call = sum(s.dur for s in spans if s.name == "canonicalize.canonical_map")
        stage_s = layer_s(*STAGE_LAYERS) + cmap_call
        leaf = [s for s in spans if "bytes" in s.attrs]
        stream_parts = [
            s for s in leaf if s.attrs["layer"] == "stream.merge" and s.name == "catalog.overwrite_partition"
        ]
        return {
            "pipeline.driver_s": op_wall - stage_s,
            "assemble.ingest_s": layer_s("assemble.ingest"),
            "extract.mentions_s": layer_s("extract.mentions"),
            "extract.triples_s": layer_s("extract.triples"),
            "canonicalize.map_s": cmap_call + layer_s("canonicalize.map"),
            "link.s": layer_s("link"),
            "materialize.nodes_s": layer_s("materialize.nodes"),
            "materialize.edges_s": layer_s("materialize.edges"),
            "catalog.write_s": sum(s.dur for s in outer_writes),
            "catalog.read_s": sum(s.dur for s in spans if s.attrs.get("kind") == "read"),
            "catalog.bytes_written": float(sum(s.attrs["bytes"] for s in leaf)),
            "catalog.files_written": float(sum(s.attrs["files"] for s in leaf)),
            "_stream.partitions_rewritten": float(len(stream_parts)),
            "_stream.bytes_rewritten": float(sum(s.attrs["bytes"] for s in stream_parts)),
        }

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        doc = dict(extra)
        doc["spans"] = [asdict(s) for s in self.spans]
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
