"""Dependency-free minimal xlsx I/O (stdlib zipfile + ElementTree).

The reference's sink writes error-report workbooks with pandas/openpyxl
(``s3.py:45-113``) and its S3 listing asserts on ``.xlsx`` keys with no
read path (``s3.py:130-137``). This container ships neither openpyxl nor
xlsxwriter, so instead of leaving the format behind an import gate, this
module implements the SpreadsheetML subset those artifacts actually use:

- one or more worksheets of string cells (reports are rendered text);
- inline strings on write (no sharedStrings table to build);
- on read: inline strings, sharedStrings references, and raw
  numeric/boolean cell values, first row = header, '' for gaps
  (``na_filter=False`` semantics, S4).

An .xlsx file is a zip archive of XML parts; the writer emits the five
mandatory parts ([Content_Types].xml, _rels/.rels, xl/workbook.xml,
xl/_rels/workbook.xml.rels, xl/worksheets/sheetN.xml). Driver-side by
design, like every artifact writer here: workbooks are for summaries and
per-sheet error reports, never data-scale output.
"""

from __future__ import annotations

import re
import zipfile
import xml.etree.ElementTree as ET
from xml.sax.saxutils import escape

_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_NS_R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_NS_CT = "http://schemas.openxmlformats.org/package/2006/content-types"
_NS_REL = "http://schemas.openxmlformats.org/package/2006/relationships"


def _col_letters(idx: int) -> str:
    """0-based column index -> A, B, ..., Z, AA, AB, ..."""
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _letters_to_idx(ref: str) -> int:
    """Cell ref like 'BC12' -> 0-based column index (54)."""
    out = 0
    for ch in ref:
        if not ch.isalpha():
            break
        out = out * 26 + (ord(ch.upper()) - ord("A") + 1)
    return out - 1


# Excel forbids []:*?/\ in sheet names; control chars are XML-invalid.
_INVALID_SHEETNAME = re.compile(r"[\[\]:*?/\\\x00-\x1f]")

# Excel's escape scheme for XML-invalid characters (ECMA-376 §22.4.2.4,
# the same one openpyxl emits): an invalid char becomes _xHHHH_, and a
# LITERAL substring that looks like _xHHHH_ gets its underscore escaped
# to _x005F_ so the reader can't mis-decode it. CR (0x0D) must be
# escaped too — XML parsers normalize \r / \r\n to \n in text content
# even under xml:space="preserve".
#: lookahead, not capture, for the trailing underscore: OVERLAPPING
#: literals like ``_x005F_x0041_`` share it, and a consuming match would
#: hide the second literal from the non-overlapping scan (the first
#: escape's trailing ``_`` doubles as the second's lead).
_X_LITERAL = re.compile(r"_(x[0-9A-Fa-f]{4})(?=_)")
_X_DECODE = re.compile(r"_x([0-9A-Fa-f]{4})_")
_XML_INVALID = re.compile(
    "[\x00-\x08\x0b-\x1f\ud800-\udfff\ufffe\uffff]")


def _encode_cell_text(s: str) -> str:
    s = _X_LITERAL.sub(r"_x005F_\1", s)
    return _XML_INVALID.sub(lambda m: f"_x{ord(m.group()):04X}_", s)


def _decode_cell_text(s: str) -> str:
    return _X_DECODE.sub(lambda m: chr(int(m.group(1), 16)), s)


def _sheet_xml(columns: list[str], rows: list[list[object]]) -> str:
    parts = [
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>',
        f'<worksheet xmlns="{_NS}"><sheetData>',
    ]
    for r, vals in enumerate([list(columns)] + [list(r) for r in rows]):
        cells = []
        for c, v in enumerate(vals):
            if v is None or v == "":
                continue
            ref = f"{_col_letters(c)}{r + 1}"
            text = escape(_encode_cell_text(str(v)))
            cells.append(f'<c r="{ref}" t="inlineStr"><is><t'
                         f' xml:space="preserve">{text}</t>'
                         "</is></c>")
        parts.append(f'<row r="{r + 1}">' + "".join(cells) + "</row>")
    parts.append("</sheetData></worksheet>")
    return "".join(parts)


def write_xlsx_sheets(path: str,
                      sheets: dict[str, tuple[list[str], list[list[object]]]]
                      ) -> str:
    """Write a workbook: ``{sheet_name: (columns, rows)}`` (insertion
    order preserved). Every cell writes as an inline string; None/''
    cells are omitted (read back as ''). Returns ``path``."""
    if not sheets:
        raise ValueError("write_xlsx_sheets needs at least one sheet")
    names = []
    for name in sheets:
        clean = _INVALID_SHEETNAME.sub("_", str(name))[:31] or "Sheet"
        if clean in names:
            raise ValueError(f"duplicate sheet name after cleanup: {clean}")
        names.append(clean)

    overrides, wb_sheets, wb_rels = [], [], []
    for i, name in enumerate(names, start=1):
        overrides.append(
            f'<Override PartName="/xl/worksheets/sheet{i}.xml" ContentType='
            '"application/vnd.openxmlformats-officedocument.spreadsheetml'
            '.worksheet+xml"/>')
        wb_sheets.append(
            f'<sheet name="{escape(name, {chr(34): "&quot;"})}" '
            f'sheetId="{i}" r:id="rId{i}"/>')
        wb_rels.append(
            f'<Relationship Id="rId{i}" Type="{_NS_R}/worksheet" '
            f'Target="worksheets/sheet{i}.xml"/>')

    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Types xmlns="{_NS_CT}">'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(overrides) + "</Types>")
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_NS_REL}">'
        f'<Relationship Id="rId1" Type="{_NS_R}/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>')
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_NS}" xmlns:r="{_NS_R}"><sheets>'
        + "".join(wb_sheets) + "</sheets></workbook>")
    workbook_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_NS_REL}">' + "".join(wb_rels)
        + "</Relationships>")

    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", workbook_rels)
        for i, (name, (columns, rows)) in enumerate(sheets.items(), start=1):
            z.writestr(f"xl/worksheets/sheet{i}.xml",
                       _sheet_xml(list(columns), rows))
    return path


def _cell_value(cell: ET.Element, shared: list[str]) -> str:
    t = cell.get("t", "n")
    if t == "inlineStr":
        node = cell.find(f"{{{_NS}}}is")
        text = "".join(n.text or ""
                       for n in node.iter(f"{{{_NS}}}t")) \
            if node is not None else ""
        return _decode_cell_text(text)
    v = cell.find(f"{{{_NS}}}v")
    raw = v.text if v is not None and v.text is not None else ""
    if t == "s":
        return _decode_cell_text(shared[int(raw)]) if raw != "" else ""
    if t == "b":
        return "TRUE" if raw == "1" else "FALSE"
    return raw


def read_xlsx_rows(path: str, sheet: int = 0
                   ) -> tuple[list[str], list[list[str]]]:
    """Read one worksheet back as ``(columns, rows)`` of strings (first
    row = header, missing cells = ''). ``sheet`` indexes the workbook's
    sheet order (pandas ``sheet_name=0`` semantics)."""
    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root.iter(f"{{{_NS}}}si"):
                shared.append("".join(n.text or ""
                                      for n in si.iter(f"{{{_NS}}}t")))
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        targets = {rel.get("Id"): rel.get("Target")
                   for rel in rels.iter(f"{{{_NS_REL}}}Relationship")}
        sheet_nodes = list(wb.iter(f"{{{_NS}}}sheet"))
        if not 0 <= sheet < len(sheet_nodes):
            raise IndexError(f"workbook has {len(sheet_nodes)} sheets, "
                             f"asked for index {sheet}")
        rid = sheet_nodes[sheet].get(f"{{{_NS_R}}}id")
        target = targets[rid]
        part = target if target.startswith("xl/") else f"xl/{target}"
        ws = ET.fromstring(z.read(part))

    # Excel/openpyxl omit fully-empty rows from sheet XML entirely, so
    # rows are positioned by their 1-based ``r`` attribute (gaps padded
    # with empty rows) — element order alone would shift everything after
    # an interior blank row up by one, corrupting Row_Index provenance.
    rowmap: dict[int, dict[int, str]] = {}
    max_col = -1
    last_r = 0
    for rnode in ws.iter(f"{{{_NS}}}row"):
        rattr = rnode.get("r")
        try:
            ri = int(rattr)
        except (TypeError, ValueError):
            ri = last_r + 1
        last_r = ri
        row: dict[int, str] = {}
        for i, cell in enumerate(rnode.iter(f"{{{_NS}}}c")):
            ref = cell.get("r")
            ci = _letters_to_idx(ref) if ref else i
            row[ci] = _cell_value(cell, shared)
            max_col = max(max_col, ci)
        rowmap[ri] = row
    if not rowmap:
        return [], []
    width = max_col + 1
    dense = [[rowmap.get(ri, {}).get(i, "") for i in range(width)]
             for ri in range(1, max(rowmap) + 1)]
    return dense[0], dense[1:]
