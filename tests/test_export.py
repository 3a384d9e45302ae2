"""Export writers: CSV / JSONL round-trip and GraphML document validity."""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pytest

from pyspark.sql import functions as F

from stixtoneodb_spark.plans import export
from stixtoneodb_spark.plans.pipeline import KgPipeline
from stixtoneodb_spark.sources.transcripts import alias_edges_df, transcripts_df


@pytest.fixture(scope="module")
def graph(spark, tmp_path_factory):
    # the frames the batch CLI hands its exporters
    tr = transcripts_df(spark, 30)
    wh = str(tmp_path_factory.mktemp("wh_export"))
    res = KgPipeline(spark, wh).run(tr, alias_edges=alias_edges_df(spark))
    return res.nodes, res.edges


def test_csv_round_trip(spark, graph, tmp_path):
    nodes, edges = graph
    export.export_csv(nodes, edges, str(tmp_path))
    back = spark.read.option("header", True).csv(str(tmp_path / "nodes_csv"))
    assert back.count() == nodes.count()
    assert set(back.columns) == set(nodes.columns)
    eback = spark.read.option("header", True).csv(str(tmp_path / "edges_csv"))
    assert eback.count() == edges.count()


def test_jsonl_round_trip(spark, graph, tmp_path):
    nodes, edges = graph
    export.export_jsonl(nodes, edges, str(tmp_path))
    back = spark.read.json(str(tmp_path / "nodes_json"))
    assert back.count() == nodes.count()
    # id set preserved exactly
    assert (
        back.select("id").exceptAll(nodes.select("id")).count() == 0
        and nodes.select("id").exceptAll(back.select("id")).count() == 0
    )


def test_graphml_document(spark, graph, tmp_path):
    nodes, edges = graph
    out = str(tmp_path / "graph.graphml")
    export.export_graphml(nodes, edges, out)
    tree = ET.parse(out)  # well-formed XML or this raises
    ns = {"g": "http://graphml.graphdrawing.org/xmlns"}
    xml_nodes = tree.findall(".//g:node", ns)
    xml_edges = tree.findall(".//g:edge", ns)
    assert len(xml_nodes) == nodes.count()
    assert len(xml_edges) == edges.count()
    # every edge endpoint must be a declared node id (the reference's
    # resolve-refs-before-write invariant carried into the export)
    ids = {n.get("id") for n in xml_nodes}
    for e in xml_edges:
        assert e.get("source") in ids and e.get("target") in ids


def test_cypher_round_trip(spark, graph, tmp_path):
    """Cypher export (how-2-convert.md:41): one MERGE per node, one
    MATCH..MERGE per edge, nodes strictly before edges so the script
    replays against an empty Neo4j in one pass."""
    nodes, edges = graph
    out = str(tmp_path / "graph.cypher")
    export.export_cypher(nodes, edges, out)
    lines = [ln for ln in open(out).read().splitlines() if ln]
    node_stmts = [ln for ln in lines if ln.startswith("MERGE (n:")]
    edge_stmts = [ln for ln in lines if ln.startswith("MATCH (a {id:")]
    assert len(node_stmts) == nodes.count()
    assert len(edge_stmts) == edges.count()
    assert len(lines) == len(node_stmts) + len(edge_stmts)
    # statement order: every node MERGE precedes the first edge statement
    first_edge = lines.index(edge_stmts[0])
    assert all(ln.startswith("MERGE (n:") for ln in lines[:first_edge])
    assert all(ln.endswith(";") for ln in lines)


def test_cypher_escapes_and_sanitizes(spark, tmp_path):
    nodes = spark.createDataFrame(
        [("n'1", "attack-pattern", "O'Neil \\ co")],
        "id string, node_type string, label string",
    )
    edges = spark.createDataFrame(
        [("e1", "n'1", "n'1", "attributed-to")],
        "id string, src string, dst string, rel_type string",
    )
    out = str(tmp_path / "esc.cypher")
    export.export_cypher(nodes, edges, out)
    text = open(out).read()
    # labels/rel types made Neo4j-legal; quotes and backslashes escaped
    assert "MERGE (n:attack_pattern {id: 'n\\'1'})" in text
    assert "[:attributed_to" in text
    assert "O\\'Neil \\\\ co" in text


def test_cypher_identifier_injection_neutralized(spark, tmp_path):
    """node_type / rel_type sit in IDENTIFIER position and come verbatim
    from untrusted STIX input: a crafted type must not break out of the
    identifier (round-2 advice, high).  Hostile identifiers are
    backtick-quoted with backtick doubling; benign ones stay bare."""
    evil_rel = "x {id:'1'}]->(b) DETACH DELETE a //"
    evil_label = "Bad` DETACH DELETE n //"
    nodes = spark.createDataFrame(
        [("n1", evil_label, "l1"), ("n2", "identity", "l2")],
        "id string, node_type string, label string",
    )
    edges = spark.createDataFrame(
        [("e1", "n1", "n2", evil_rel)], "id string, src string, dst string, rel_type string"
    )
    out = str(tmp_path / "inj.cypher")
    export.export_cypher(nodes, edges, out)
    lines = [ln for ln in open(out).read().splitlines() if ln]
    # exactly one statement per input row — nothing was smuggled in
    assert len(lines) == 3
    assert all(ln.endswith(";") for ln in lines)
    edge_stmt = next(ln for ln in lines if ln.startswith("MATCH"))
    # the whole hostile rel_type is inside one backtick-quoted identifier
    # (the '-'→'_' Neo4j-legalization applies inside the quote too)
    assert "MERGE (a)-[:`x {id:'1'}]_>(b) DETACH DELETE a //`" in edge_stmt
    node_stmt = next(ln for ln in lines if "Bad" in ln)
    # interior backtick doubled, so the quote cannot be closed early
    assert "MERGE (n:`Bad`` DETACH DELETE n //`" in node_stmt
    # benign identifier remains unquoted
    assert any("MERGE (n:identity" in ln for ln in lines)


def test_graphml_escapes_special_chars(spark, tmp_path):
    nodes = spark.createDataFrame(
        [("n1", "identity", 'A&B <"Corp">')], "id string, node_type string, label string"
    ).withColumn("n_mentions", F.lit(1).cast("long"))
    edges = spark.createDataFrame([], "id string, src string, dst string, rel_type string")
    out = str(tmp_path / "esc.graphml")
    export.export_graphml(nodes, edges, out)
    tree = ET.parse(out)
    ns = {"g": "http://graphml.graphdrawing.org/xmlns"}
    label = tree.find(".//g:node/g:data", ns).text
    assert label == 'A&B <"Corp">'
