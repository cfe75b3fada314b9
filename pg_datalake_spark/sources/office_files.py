"""Minimal XLSX (SpreadsheetML) reader/writer, pure stdlib.

The reference imports XLSX through GDAL's XLSX driver
(docs/file-formats-reference.md:96-138). Offline, the format is just
a zip of XML parts (ECMA-376 / ISO 29500 SpreadsheetML), so the
subset a data engine needs — one worksheet of typed cells, shared
strings, a header row — parses with ``zipfile`` + ``xml.etree``:

- ``xl/worksheets/sheet1.xml``: ``<row><c r="A1" t="s|b|str|
  inlineStr"><v>…</v></c></row>`` cells; numeric cells carry no
  ``t``; ``t="s"`` indexes ``xl/sharedStrings.xml``.
- Column typing: a column whose every non-null data cell is numeric
  becomes ``double``; booleans become ``boolean``; anything else is
  ``string``. The first row supplies column names.

Scale shape matches the other codecs: the driver parses ONE file for
the schema; record parsing runs executor-side via ``mapInPandas``,
one file per task. The writer is fixture-grade (enough spec
conformance that Excel/GDAL open the files).
"""

from __future__ import annotations

import glob as _glob
import re
import xml.etree.ElementTree as ET
import zipfile

from pyspark.sql import DataFrame, SparkSession

from pg_datalake_spark.session import local_frame

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _col_index(ref: str) -> int:
    """'A1' → 0, 'AB7' → 27."""
    idx = 0
    for ch in ref:
        if not ch.isalpha():
            break
        idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
    return idx - 1


def _col_letter(i: int) -> str:
    out = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        out = chr(ord("A") + r) + out
    return out


def write_xlsx(
    path: str,
    header: list[str],
    rows: list[tuple],
    extra_sheets: list[tuple[str, list[str], list[tuple]]] | None = None,
) -> None:
    """Write an .xlsx: strings go to sharedStrings, numbers inline,
    booleans as t="b". ``extra_sheets`` appends further worksheets as
    (name, header, rows) — the workbook part, relationships and
    content types list every sheet, so the reader's ``sheet=`` (the
    GDAL ``layer`` option) can address them. Fixture-grade writer."""
    strings: list[str] = []
    sindex: dict[str, int] = {}

    def s_id(v: str) -> int:
        if v not in sindex:
            sindex[v] = len(strings)
            strings.append(v)
        return sindex[v]

    def cell(ci: int, ri: int, v) -> str:
        ref = f"{_col_letter(ci)}{ri}"
        if v is None:
            return ""
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v!r}</v></c>'
        return f'<c r="{ref}" t="s"><v>{s_id(str(v))}</v></c>'

    def sheet_xml(hdr: list[str], data: list[tuple]) -> str:
        body = []
        for ri, row in enumerate([tuple(hdr)] + [tuple(r) for r in data], start=1):
            cells = "".join(cell(ci, ri, v) for ci, v in enumerate(row))
            body.append(f'<row r="{ri}">{cells}</row>')
        return (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f"<sheetData>{''.join(body)}</sheetData></worksheet>"
        )

    sheets = [("Sheet1", header, rows)] + list(extra_sheets or [])
    sheet_parts = [sheet_xml(h, r) for _n, h, r in sheets]
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
        f' count="{len(strings)}" uniqueCount="{len(strings)}">'
        + "".join(f"<si><t>{_xml_escape(s)}</t></si>" for s in strings)
        + "</sst>"
    )
    sheet_tags = "".join(
        f'<sheet name="{_xml_escape(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, (n, _h, _r) in enumerate(sheets)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
        ' xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f"<sheets>{sheet_tags}</sheets></workbook>"
    )
    sheet_rels = "".join(
        f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxmlformats.org/'
        f'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet{i + 1}.xml"/>'
        for i in range(len(sheets))
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + sheet_rels
        + f'<Relationship Id="rId{len(sheets) + 1}" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
        "</Relationships>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    sheet_overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        for i in range(len(sheets))
    )
    ctypes = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-'
        'package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + sheet_overrides
        + '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
        "</Types>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", ctypes)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        for i, part in enumerate(sheet_parts):
            z.writestr(f"xl/worksheets/sheet{i + 1}.xml", part)
        z.writestr("xl/sharedStrings.xml", sst)


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


_R_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_PKG_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"


def _sheet_part(z: zipfile.ZipFile, sheet_name: str | None) -> str:
    """Resolve a sheet name (the GDAL ``layer`` option) to its zip part
    via workbook.xml → workbook rels; None = the first sheet. Minimal
    files lacking a workbook part (bare sheet1.xml) stay readable when
    no sheet is named."""
    if "xl/workbook.xml" not in z.namelist():
        if sheet_name is not None:
            raise ValueError(
                f"cannot resolve sheet {sheet_name!r}: no xl/workbook.xml"
            )
        return "xl/worksheets/sheet1.xml"
    wb = ET.fromstring(z.read("xl/workbook.xml"))
    sheets = [
        (s.attrib.get("name"), s.attrib.get(f"{_R_NS}id"))
        for s in wb.iter(f"{_NS}sheet")
    ]
    if not sheets:
        raise ValueError("workbook has no sheets")
    if sheet_name is None:
        rid = sheets[0][1]
    else:
        hits = [r for n, r in sheets if n == sheet_name]
        if not hits:
            raise ValueError(
                f"no sheet named {sheet_name!r}; workbook has "
                f"{[n for n, _ in sheets]}"
            )
        rid = hits[0]
    rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
    targets = {
        r.attrib["Id"]: r.attrib["Target"]
        for r in rels.iter(f"{_PKG_NS}Relationship")
    }
    target = targets.get(rid, "worksheets/sheet1.xml")
    return target if target.startswith("xl/") else "xl/" + target.lstrip("/")


def _parse_xlsx(
    path: str, sheet_name: str | None = None
) -> tuple[list[str], list[list]]:
    """→ (header, rows of python values: float | bool | str | None)."""
    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root.iter(f"{_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
        sheet = ET.fromstring(z.read(_sheet_part(z, sheet_name)))
    grid: list[list] = []
    for row in sheet.iter(f"{_NS}row"):
        cells: dict[int, object] = {}
        for c in row.iter(f"{_NS}c"):
            ci = _col_index(c.attrib.get("r", "A"))
            t = c.attrib.get("t", "n")
            if t == "inlineStr":
                cells[ci] = "".join(
                    x.text or "" for x in c.iter(f"{_NS}t")
                )
                continue
            v = c.find(f"{_NS}v")
            if v is None or v.text is None:
                continue
            if t == "s":
                cells[ci] = shared[int(v.text)]
            elif t == "b":
                cells[ci] = v.text == "1"
            elif t == "str":
                cells[ci] = v.text
            else:
                cells[ci] = float(v.text)
        width = max(cells, default=-1) + 1
        grid.append([cells.get(i) for i in range(width)])
    if not grid:
        return [], []
    header = [str(h) for h in grid[0]]
    width = len(header)
    rows = [r[:width] + [None] * (width - len(r)) for r in grid[1:]]
    return header, rows


_IDENT = re.compile(r"[^A-Za-z0-9_]")


def read_xlsx(
    spark: SparkSession, path_or_glob: str, sheet: str | None = None
) -> DataFrame:
    """Read one or many .xlsx files (first row = header). ``sheet``
    selects a worksheet BY NAME (the GDAL ``layer`` option, e.g.
    'Sheet 1'); default is each workbook's first sheet. Column types
    are inferred from the FIRST file (numeric → double, boolean →
    boolean, else string); parsing runs executor-side, one file per
    task."""
    paths = sorted(_glob.glob(path_or_glob)) or [path_or_glob]
    header, sample = _parse_xlsx(paths[0], sheet)
    if not header:
        raise ValueError(f"no header row in {paths[0]}")

    def col_type(i: int) -> str:
        vals = [r[i] for r in sample if r[i] is not None]
        if vals and all(isinstance(v, float) for v in vals):
            return "double"
        if vals and all(isinstance(v, bool) for v in vals):
            return "boolean"
        return "string"

    names = [_IDENT.sub("_", h) for h in header]
    types = [col_type(i) for i in range(len(header))]
    schema = ", ".join(f"{n} {t}" for n, t in zip(names, types))

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            for p in pdf["path"]:
                _h, rows = _parse_xlsx(p, sheet)
                out = {}
                for i, (n, t) in enumerate(zip(names, types)):
                    col = [r[i] if i < len(r) else None for r in rows]
                    if t == "string":
                        col = [None if v is None else str(v) for v in col]
                    out[n] = col
                yield pd.DataFrame(out)

    files = local_frame(spark, [(p,) for p in paths], "path string")
    return files.repartition(len(paths)).mapInPandas(parse, schema)
