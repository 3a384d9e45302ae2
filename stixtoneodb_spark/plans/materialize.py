"""S5 — graph materialize: nodes / edges tables + provenance.

Reference correspondence: SDOs become labeled nodes, SROs become typed
edges, meta objects become nodes with edges to their subjects
(/root/reference/README.md:15-17); storage is keyed MERGE on id
(README.md:75).  Here:

- ``nodes``  = canonical entities ∪ conversation provenance nodes
- ``edges``  = linked triples ∪ provenance edges (mention→conversation)
- keys are content-derived sha2 (functions.ids), so MERGE is idempotent
  across reruns and task retries.

Table layout: the parquet catalog writes ``nodes`` and ``edges`` as plain,
unpartitioned parquet tables (``merge_upsert`` rewrites each whole).  On
the Iceberg backend, ``IcebergCatalog.create_table_ddl`` buckets a table on
its merge key (``bucket(256, id)``), so a MERGE rewrites only the buckets
it touches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stixtoneodb_spark.functions.ids import edge_id


def entity_nodes_from_type_counts(type_counts: DataFrame) -> DataFrame:
    """Canonical entity nodes (id, node_type, label, n_mentions) from
    (canonical_id, canonical_label, entity_type, cnt) mention counts.

    Majority entity_type per canonical id becomes the node label (the SDO
    type analog); ties broken deterministically by type name.  The
    pipeline counts mentions by (name, entity_type) FIRST — a partial
    aggregation whose map-side combine absorbs hot-entity skew — and
    resolves canonical ids at vocabulary cardinality, so node
    materialization never shuffles the full mention stream on the skewed
    name key.
    """
    w_type = F.struct(F.col("cnt"), F.col("entity_type"))
    top_type = type_counts.groupBy("canonical_id", "canonical_label").agg(
        F.max(w_type).getField("entity_type").alias("node_type"),
        F.sum("cnt").alias("n_mentions"),
    )
    return top_type.select(
        F.col("canonical_id").alias("id"),
        F.col("node_type"),
        F.col("canonical_label").alias("label"),
        F.col("n_mentions"),
    )


def conversation_nodes(turns: DataFrame) -> DataFrame:
    """Provenance nodes, one per conversation (the bundle analog)."""
    return turns.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"), F.min("ts").alias("started_at")
    ).select(
        F.sha2(F.concat_ws("\x1f", F.lit("conversation"), F.col("conv_id")), 256).alias("id"),
        F.lit("conversation").alias("node_type"),
        F.col("conv_id").alias("label"),
        F.col("n_turns").cast("long").alias("n_mentions"),
    )


def triple_edges(linked: DataFrame) -> DataFrame:
    """Typed edges from linked triples, keyed deterministically on
    (src, rel_type, dst, provenance) — the SRO identity analog
    (testfull.json:110)."""
    prov = F.concat_ws(":", F.col("conv_id"), F.col("turn_idx").cast("string"))
    return linked.select(
        edge_id(F.col("subj_id"), F.col("pred"), F.col("obj_id"), prov).alias("id"),
        F.col("subj_id").alias("src"),
        F.col("obj_id").alias("dst"),
        F.col("pred").alias("rel_type"),
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("confidence"),
    )


def mention_edges(mentions_canon: DataFrame) -> DataFrame:
    """Provenance edges entity --mentioned_in--> conversation (the
    created_by_ref / object_refs embedded-edge analog, testfull.json:10,:1355)."""
    conv_node = F.sha2(F.concat_ws("\x1f", F.lit("conversation"), F.col("conv_id")), 256)
    prov = F.concat_ws(":", F.col("conv_id"), F.col("turn_idx").cast("string"))
    # dedup on the NARROW determinants before deriving the sha2 edge id —
    # and on canonical_label rather than canonical_id: the id is
    # sha2(label), a pure function, so the label is an equivalent dedup
    # key at a third of the shuffle bytes (entity surfaces vs 64-char hex
    # digests), and the per-row sha2 over the full mention stream is
    # pruned away entirely (both digests are computed AFTER the dedup, at
    # distinct-edge cardinality).
    distinct_src = mentions_canon.select(
        "canonical_label", "conv_id", "turn_idx"
    ).dropDuplicates(["canonical_label", "conv_id", "turn_idx"])
    canonical_id = F.sha2(F.col("canonical_label"), 256)
    return distinct_src.select(
        edge_id(canonical_id, F.lit("mentioned_in"), conv_node, prov).alias("id"),
        canonical_id.alias("src"),
        conv_node.alias("dst"),
        F.lit("mentioned_in").alias("rel_type"),
        F.col("conv_id"),
        F.col("turn_idx"),
        F.lit(1.0).alias("confidence"),
    )
