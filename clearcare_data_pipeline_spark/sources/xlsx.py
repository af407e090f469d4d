"""Minimal XLSX I/O on the standard library (zipfile + ElementTree).

The reference's registry is literally ``Hospital Registry.xlsx``
(hospital_enricher.py:174-186, ETL_pipeline.py:41,49, read with
``pd.read_excel(..., sheet_name="Sheet1")``), but neither openpyxl nor
xlsxwriter is available in this container — and an XLSX file is just a
zip of small XML parts, so a dependency-free driver-side shim covers
the registry use case (one sheet, tens of rows, string cells).

Writer emits inline strings (``<c t="inlineStr">``) — valid OOXML,
readable by Excel/pandas/openpyxl/DuckDB alike. Reader handles the
cell types those tools emit: shared strings, inline strings, numbers,
booleans, and formula string results.

Driver-side by design: the registry is a broadcast-scale dimension
(one row per hospital campus); distributed I/O would be overkill and
the reference's read-modify-write workbook cycle is inherently
single-writer.
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET
import zipfile

_NS_MAIN = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_NS_REL_DOC = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_NS_REL_PKG = "http://schemas.openxmlformats.org/package/2006/relationships"


def _q(tag: str) -> str:
    return f"{{{_NS_MAIN}}}{tag}"


def _col_letters(idx: int) -> str:
    """0-based column index -> A1-style letters (0 -> A, 26 -> AA)."""
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _col_index(ref: str) -> int:
    """A1-style cell reference -> 0-based column index."""
    n = 0
    for ch in ref:
        if ch.isalpha():
            n = n * 26 + (ord(ch.upper()) - ord("A") + 1)
        else:
            break
    return n - 1


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


# ----------------------------------------------------------------------
# Write
# ----------------------------------------------------------------------

_CONTENT_TYPES = f"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
</Types>"""

_ROOT_RELS = f"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="{_NS_REL_PKG}">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WORKBOOK_RELS = f"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="{_NS_REL_PKG}">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
</Relationships>"""


def write_xlsx(
    path: str, header: list[str], rows: list[list[str | None]], sheet_name: str = "Sheet1"
) -> None:
    """Write one worksheet of string cells (None -> empty cell),
    replacing ``path`` atomically."""
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_NS_MAIN}" xmlns:r="{_NS_REL_DOC}"><sheets>'
        f'<sheet name="{_xml_escape(sheet_name)}" sheetId="1" r:id="rId1"/>'
        "</sheets></workbook>"
    )
    body: list[str] = [
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>',
        f'<worksheet xmlns="{_NS_MAIN}"><sheetData>',
    ]
    for r, row in enumerate([list(header)] + [list(x) for x in rows], start=1):
        cells = []
        for c, val in enumerate(row):
            if val is None:
                continue
            ref = f"{_col_letters(c)}{r}"
            cells.append(
                f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
                f"{_xml_escape(str(val))}</t></is></c>"
            )
        body.append(f'<row r="{r}">{"".join(cells)}</row>')
    body.append("</sheetData></worksheet>")
    # The workbook is built beside ``path`` and swapped in with
    # os.replace (atomic on POSIX): a failure mid-write leaves the
    # previous workbook whole.
    tmp = path + ".tmp"
    try:
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            z.writestr("[Content_Types].xml", _CONTENT_TYPES)
            z.writestr("_rels/.rels", _ROOT_RELS)
            z.writestr("xl/workbook.xml", workbook)
            z.writestr("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS)
            z.writestr("xl/worksheets/sheet1.xml", "".join(body))
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


# ----------------------------------------------------------------------
# Read
# ----------------------------------------------------------------------


def _shared_strings(z: zipfile.ZipFile) -> list[str]:
    try:
        data = z.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    out = []
    for si in ET.fromstring(data).iter(_q("si")):
        # concatenate all text runs (plain or rich-text)
        out.append("".join(t.text or "" for t in si.iter(_q("t"))))
    return out


def _first_sheet_target(z: zipfile.ZipFile, sheet_name: str | None) -> str:
    wb = ET.fromstring(z.read("xl/workbook.xml"))
    rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
    rel_target = {
        rel.get("Id"): rel.get("Target") for rel in rels.iter(f"{{{_NS_REL_PKG}}}Relationship")
    }
    for sheet in wb.iter(_q("sheet")):
        if sheet_name is None or sheet.get("name") == sheet_name:
            rid = sheet.get(f"{{{_NS_REL_DOC}}}id")
            target = rel_target[rid]
            return target if target.startswith("xl/") else f"xl/{target}"
    raise KeyError(f"sheet {sheet_name!r} not found")


def _cell_value(cell: ET.Element, shared: list[str]) -> str | None:
    ctype = cell.get("t", "n")
    if ctype == "inlineStr":
        is_el = cell.find(_q("is"))
        return "".join(t.text or "" for t in is_el.iter(_q("t"))) if is_el is not None else None
    v = cell.find(_q("v"))
    if v is None or v.text is None:
        return None
    if ctype == "s":
        return shared[int(v.text)]
    if ctype == "b":
        return "TRUE" if v.text == "1" else "FALSE"
    # 'n' / 'str' / 'e': return the raw lexical value — the registry is
    # stringly-typed, so '4.5' stays '4.5'.
    return v.text


def read_xlsx(
    path: str, sheet_name: str | None = None
) -> tuple[list[str], list[list[str | None]]]:
    """Read one worksheet -> (header, data rows), all cells as strings
    (None for absent cells). Rows are padded to the header width."""
    with zipfile.ZipFile(path) as z:
        shared = _shared_strings(z)
        sheet = ET.fromstring(z.read(_first_sheet_target(z, sheet_name)))
        grid: list[list[str | None]] = []
        for row in sheet.iter(_q("row")):
            vals: dict[int, str | None] = {}
            for cell in row.iter(_q("c")):
                idx = _col_index(cell.get("r", ""))
                if idx >= 0:
                    vals[idx] = _cell_value(cell, shared)
            width = max(vals) + 1 if vals else 0
            grid.append([vals.get(i) for i in range(width)])
    if not grid:
        return [], []
    header = [h if h is not None else "" for h in grid[0]]
    width = len(header)
    rows = [(r + [None] * width)[:width] for r in grid[1:]]
    return header, rows
