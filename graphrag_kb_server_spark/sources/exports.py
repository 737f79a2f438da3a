"""S5/S9 — export formats: GraphML, GEXF (compatibility boundary only;
the system of record is the parquet/Iceberg node+edge tables).

Reference: graph persisted/reloaded as GraphML
(/root/reference/graphrag_kb_server/service/lightrag/lightrag_graph_support.py:19-27),
communities exported as gexf (:93-106), centrality as xlsx
(lightrag_centrality.py:88-97). Exports are driver-side by design —
they exist for humans/tools, not for scale; guard rails cap row counts.
"""

from __future__ import annotations

from xml.sax.saxutils import escape

from pyspark.sql import DataFrame

MAX_EXPORT_ROWS = 200_000


def _check_size(df: DataFrame, what: str) -> None:
    if df.limit(MAX_EXPORT_ROWS + 1).count() > MAX_EXPORT_ROWS:
        raise ValueError(
            f"{what} export exceeds {MAX_EXPORT_ROWS} rows; exports are a "
            "driver-side compatibility boundary — filter first"
        )


def _attr(v: str) -> str:
    """Escape for an XML ATTRIBUTE position: saxutils.escape alone
    leaves double quotes intact, so a name like 'John "Jack" Smith'
    would terminate the attribute early — malformed XML no parser
    accepts."""
    return escape(v, {'"': "&quot;"})


def to_graphml(nodes: DataFrame, edges: DataFrame, path: str) -> None:
    """Write an undirected GraphML mirroring the reference's node/edge
    attribute keys (entity_type/description on nodes; weight/keywords/
    description on edges)."""
    _check_size(nodes, "nodes")
    _check_size(edges, "edges")
    with open(path, "w", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        f.write('<graphml xmlns="http://graphml.graphdrawing.org/xmlns">\n')
        f.write('<key id="d0" for="node" attr.name="entity_type" attr.type="string"/>\n')
        f.write('<key id="d1" for="node" attr.name="description" attr.type="string"/>\n')
        f.write('<key id="d2" for="edge" attr.name="weight" attr.type="double"/>\n')
        f.write('<key id="d3" for="edge" attr.name="keywords" attr.type="string"/>\n')
        f.write('<key id="d4" for="edge" attr.name="description" attr.type="string"/>\n')
        f.write('<graph edgedefault="undirected">\n')
        has_edge_desc = "description" in edges.columns
        for r in nodes.toLocalIterator():
            f.write(
                f'<node id="{_attr(r["name"])}">'
                f'<data key="d0">{escape(r["type"] or "")}</data>'
                f'<data key="d1">{escape((r["description"] or "")[:500])}</data>'
                f"</node>\n"
            )
        for r in edges.toLocalIterator():
            # a null weight must not serialize as the string 'None'
            # inside an attr.type=double element (unparseable on read)
            w = "" if r["weight"] is None else r["weight"]
            desc = (
                f'<data key="d4">{escape((r["description"] or "")[:500])}</data>'
                if has_edge_desc
                else ""
            )
            f.write(
                f'<edge source="{_attr(r["src"])}" target="{_attr(r["tgt"])}">'
                f'<data key="d2">{w}</data>'
                f'<data key="d3">{escape(r["keywords"] or "")}</data>'
                f"{desc}"
                f"</edge>\n"
            )
        f.write("</graph>\n</graphml>\n")


def centrality_to_xlsx(centrality: DataFrame, path: str) -> None:
    """Centrality scores as an Excel workbook — the reference's
    ``data.to_excel(buffer, index=True, header=True)`` surface
    (lightrag_centrality.py:86-96); a caller that wants the reference's
    ``head(limit)`` limits the frame first.

    Written as minimal OOXML directly (a .xlsx is a zip of XML parts)
    so the export has no optional-dependency gap in this image; numbers
    are numeric cells, everything else inline strings. Driver-side by
    design — exports are a human/tool compatibility boundary.
    """
    _check_size(centrality, "centrality")
    rows = centrality.collect()
    cols = centrality.columns

    def cell(ref: str, v) -> str:
        if v is None or v == "":
            return f'<c r="{ref}"/>'
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'

    def col_ref(ix: int) -> str:  # 0 → A, 26 → AA
        out = ""
        ix += 1
        while ix:
            ix, rem = divmod(ix - 1, 26)
            out = chr(ord("A") + rem) + out
        return out

    sheet_rows = []
    header = [""] + cols  # leading index column, as to_excel(index=True)
    sheet_rows.append(
        "<row r=\"1\">"
        + "".join(cell(f"{col_ref(i)}1", h) for i, h in enumerate(header))
        + "</row>"
    )
    for rix, r in enumerate(rows, start=2):
        vals = [rix - 2] + [r[c] for c in cols]
        sheet_rows.append(
            f'<row r="{rix}">'
            + "".join(cell(f"{col_ref(i)}{rix}", v) for i, v in enumerate(vals))
            + "</row>"
        )
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>" + "".join(sheet_rows) + "</sheetData></worksheet>"
    )
    import zipfile

    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>",
        )
        z.writestr(
            "_rels/.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>",
        )
        z.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>",
        )
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def read_gexf(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Scan side of the gexf sink: parse a gexf file back into
    (nodes(id, label), edges(source, target)) DataFrames — used by the
    kg_export_gexf hash oracle to prove write→parse is lossless
    (incl. XML escaping)."""
    import xml.etree.ElementTree as ET

    from pyspark.sql import types as T

    root = ET.parse(path).getroot()
    ns = {"g": root.tag.split("}")[0].strip("{")} if "}" in root.tag else {}
    pre = "g:" if ns else ""
    nodes = [
        (el.get("id"), el.get("label"))
        for el in root.findall(f".//{pre}node", ns)
    ]
    edges = [
        (el.get("source"), el.get("target"))
        for el in root.findall(f".//{pre}edge", ns)
    ]
    nschema = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("label", T.StringType())]
    )
    eschema = T.StructType(
        [T.StructField("source", T.StringType()), T.StructField("target", T.StringType())]
    )
    return (
        spark.createDataFrame(nodes, nschema),
        spark.createDataFrame(edges, eschema),
    )


def read_xlsx(spark, path: str) -> DataFrame:
    """Scan side of the xlsx sink: parse the OOXML worksheet written by
    centrality_to_xlsx back into a DataFrame with the original columns
    (the leading to_excel-style index column is dropped). All cells come
    back as strings — the hash oracle casts explicitly, proving the
    numeric round trip at the text level."""
    import xml.etree.ElementTree as ET
    import zipfile

    from pyspark.sql import types as T

    with zipfile.ZipFile(path) as z:
        sheet = z.read("xl/worksheets/sheet1.xml").decode("utf-8")
    root = ET.fromstring(sheet)
    ns = {"m": root.tag.split("}")[0].strip("{")}

    def cell_text(c) -> str | None:
        v = c.find("m:v", ns)
        if v is not None:
            return v.text or ""
        t = c.find("m:is/m:t", ns)
        if t is not None:
            return t.text or ""
        return None

    def col_ix(ref: str) -> int:
        ix = 0
        for ch in ref:
            if ch.isalpha():
                ix = ix * 26 + (ord(ch.upper()) - ord("A") + 1)
        return ix - 1

    rows = []
    for row in root.findall(".//m:row", ns):
        cells: dict[int, str | None] = {}
        for c in row.findall("m:c", ns):
            cells[col_ix(c.get("r", "A"))] = cell_text(c)
        width = max(cells) + 1 if cells else 0
        rows.append([cells.get(i) for i in range(width)])
    header, body = rows[0], rows[1:]
    cols = header[1:]  # drop the index column
    data = [tuple(r[1 : len(header)]) for r in body]
    schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])
    return spark.createDataFrame(data, schema)


def communities_to_gexf(communities: DataFrame, path: str) -> None:
    """Child→parent community network as gexf
    (lightrag_graph_support.py:93-106)."""
    _check_size(communities, "communities")
    rows = communities.select("cluster", "parent_cluster", "size").collect()
    with open(path, "w", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        f.write('<gexf xmlns="http://gexf.net/1.3" version="1.3">\n')
        f.write('<graph defaultedgetype="directed">\n<nodes>\n')
        for r in rows:
            f.write(f'<node id="{_attr(r["cluster"])}" label="{_attr(r["cluster"])}"/>\n')
        f.write("</nodes>\n<edges>\n")
        for i, r in enumerate(rows):
            if r["parent_cluster"]:
                f.write(
                    f'<edge id="{i}" source="{_attr(r["cluster"])}" '
                    f'target="{_attr(r["parent_cluster"])}"/>\n'
                )
        f.write("</edges>\n</graph>\n</gexf>\n")
