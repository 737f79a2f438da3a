"""S5/S9 — export-format surfaces: GraphML, GEXF, XLSX.

Reference parity: GraphML node/edge attribute keys
(lightrag_graph_support.py:19-27), community gexf (:93-106), centrality
xlsx with index column and head(limit)
(lightrag_centrality.py:86-96).
"""

import xml.etree.ElementTree as ET
import zipfile

from graphrag_kb_server_spark.sources.exports import (
    centrality_to_xlsx,
    communities_to_gexf,
    to_graphml,
)


def test_graphml_export(spark, tmp_out):
    nodes = spark.createDataFrame(
        [("A", "person", "desc a"), ("B <x>", "geo", None)],
        "name string, type string, description string",
    )
    edges = spark.createDataFrame(
        [("A", "B <x>", 2.5, "kw1<SEP>kw2")],
        "src string, tgt string, weight double, keywords string",
    )
    path = f"{tmp_out}/g.graphml"
    to_graphml(nodes, edges, path)
    root = ET.parse(path).getroot()
    ns = {"g": "http://graphml.graphdrawing.org/xmlns"}
    graph = root.find("g:graph", ns)
    assert graph.get("edgedefault") == "undirected"
    node_ids = {n.get("id") for n in graph.findall("g:node", ns)}
    assert node_ids == {"A", "B <x>"}  # XML-escaped and parsed back
    edge = graph.find("g:edge", ns)
    assert edge.get("source") == "A" and edge.get("target") == "B <x>"
    keys = {k.get("attr.name") for k in root.findall("g:key", ns)}
    assert {"entity_type", "description", "weight", "keywords"} <= keys


def test_gexf_export(spark, tmp_out):
    communities = spark.createDataFrame(
        [("c1", None, 5), ("c1/a", "c1", 3)],
        "cluster string, parent_cluster string, size long",
    )
    path = f"{tmp_out}/c.gexf"
    communities_to_gexf(communities, path)
    root = ET.parse(path).getroot()
    ns = {"x": "http://gexf.net/1.3"}
    nodes = root.findall(".//x:node", ns)
    edges = root.findall(".//x:edge", ns)
    assert {n.get("id") for n in nodes} == {"c1", "c1/a"}
    assert len(edges) == 1 and edges[0].get("target") == "c1"


def test_xlsx_export_roundtrip(spark, tmp_out):
    cent = spark.createDataFrame(
        [("Alice", 0.9), ("B&B <Ltd>", 0.5), ("C", 0.1)],
        "name string, centrality double",
    )
    path = f"{tmp_out}/cent.xlsx"
    centrality_to_xlsx(cent.limit(2), path)  # reference head(limit)
    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        assert {"[Content_Types].xml", "xl/workbook.xml",
                "xl/worksheets/sheet1.xml"} <= names
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    ns = {"s": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    rows = sheet.findall(".//s:row", ns)
    assert len(rows) == 3  # header + 2 (limit applied)
    header = [t.text for t in rows[0].findall(".//s:t", ns)]
    assert header == ["name", "centrality"]  # index col cell is empty
    r1_strings = [t.text for t in rows[1].findall(".//s:t", ns)]
    assert r1_strings == ["Alice"]
    r1_nums = [v.text for v in rows[1].findall(".//s:v", ns)]
    assert "0.9" in r1_nums  # numeric cell, not a string
    r2_strings = [t.text for t in rows[2].findall(".//s:t", ns)]
    assert r2_strings == ["B&B <Ltd>"]  # escaped and parsed back


def test_graphml_quotes_null_weight_and_edge_description(spark, tmp_out):
    """Attribute-position escaping (a double quote in a node id must
    not break the XML), null weights serialize as empty (not 'None'),
    and edge descriptions round-trip."""
    from graphrag_kb_server_spark.sources.ref_artifacts import read_graphml

    nodes = spark.createDataFrame(
        [('John "Jack" Smith', "person", "d1"), ("B", "geo", "d2")],
        "name string, type string, description string",
    )
    edges = spark.createDataFrame(
        [('John "Jack" Smith', "B", None, "kw", "edge sentence")],
        "src string, tgt string, weight double, keywords string, description string",
    )
    path = f"{tmp_out}/gq.graphml"
    to_graphml(nodes, edges, path)
    # well-formed XML with the quoted id intact
    root = ET.parse(path).getroot()
    ns = {"g": "http://graphml.graphdrawing.org/xmlns"}
    ids = {n.get("id") for n in root.find("g:graph", ns).findall("g:node", ns)}
    assert 'John "Jack" Smith' in ids
    # parse-back through the engine's own reader: weight None survives,
    # description survives
    _, edf = read_graphml(spark, path)
    row = edf.first()
    assert row["weight"] is None
    assert row["description"] == "edge sentence"
