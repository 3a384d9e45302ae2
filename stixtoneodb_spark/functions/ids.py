"""Deterministic content-derived identifiers.

The reference keys every graph element on the STIX ``id`` (``type--uuid``,
testfull.json:9) and relies on an id index for MERGE semantics
(README.md:75-76).  In a distributed engine with task retries, generated ids
must be *content-derived* — ``uuid()`` / ``monotonically_increasing_id()``
fork under retry and across runs.  All keys here are sha2 over canonical
byte strings, computed JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def edge_id(src: Column, rel_type: Column, dst: Column, provenance: Column) -> Column:
    """Deterministic edge key mirroring the reference's SRO identity
    (testfull.json:110): one edge per (src, rel_type, dst, provenance)."""
    return F.sha2(F.concat_ws("\x1f", src, rel_type, dst, provenance), 256)


def child_id(parent_id: Column, kind: Column | str, payload: Column) -> Column:
    """Key for flattened sub-structure children (kill_chain_phases,
    external_references, ... — reference behavior A8, changes.md:41-43).
    Deterministic replacement for the library's generated UUIDs."""
    kind_col = F.lit(kind) if isinstance(kind, str) else kind
    return F.sha2(F.concat_ws("\x1f", parent_id, kind_col, payload), 256)
