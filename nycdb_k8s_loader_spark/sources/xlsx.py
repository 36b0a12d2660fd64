"""Minimal stdlib xlsx reader (SURVEY.md §2 S5).

The reference ingests DOF Excel workbooks through xlrd
(/root/reference/load_dataset.py:280-303, requirements.txt pins xlrd);
the package parses workbooks itself rather than through
``pandas.read_excel``, which needs an optional engine (openpyxl/xlrd).
An .xlsx file is just a zip of XML parts, all stdlib-parseable:

    xl/workbook.xml            sheet names → r:id
    xl/_rels/workbook.xml.rels r:id → worksheet part path
    xl/sharedStrings.xml       the shared-string table
    xl/worksheets/sheetN.xml   rows of <c r="B2" t="s"><v>idx</v></c>

Scope: cell types s (shared string), str (formula result), inlineStr,
b (boolean), n/default (number) — what real data workbooks contain.
Dates are numbers in xlsx (serial days); sources/readers.py turns a
numeric cell bound for a date or timestamp field into ISO text before
the registry schema's cast. Legacy .xls (binary
BIFF, what xlrd actually parses) is NOT a zip and raises a clear
error — convert upstream.

Driver-side by design: these workbooks are config-scale (the
reference's dof_421a sheets are a few thousand rows), not data-scale.
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET

_NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
_REL_NS = {
    "r": "http://schemas.openxmlformats.org/package/2006/relationships"
}
_RID_ATTR = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
)

_CELL_REF = re.compile(r"([A-Z]+)(\d+)")


def _col_index(ref: str) -> int:
    """'A'→0, 'B'→1, …, 'AA'→26 (base-26 letters of a cell ref)."""
    m = _CELL_REF.match(ref)
    n = 0
    for ch in m.group(1):
        n = n * 26 + (ord(ch) - ord("A") + 1)
    return n - 1


def _cell_value(cell: ET.Element, shared: list[str]):
    t = cell.get("t", "n")
    if t == "inlineStr":
        is_el = cell.find("m:is", _NS)
        return "".join(
            tnode.text or "" for tnode in is_el.iter(f"{{{_NS['m']}}}t")
        ) if is_el is not None else None
    v = cell.find("m:v", _NS)
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t == "str":
        return v.text
    if t == "b":
        return v.text == "1"
    # numeric: keep ints exact (xlsx stores every number as decimal
    # text; '25' must not become '25.0' before a downstream INT cast)
    num = float(v.text)
    return int(num) if num.is_integer() and "e" not in v.text.lower() else num


def read_xlsx_rows(
    path: str, sheet_name: int | str = 0
) -> list[list]:
    """Parse one worksheet into dense rows (row-major, gaps → None,
    rows right-padded to the widest row)."""
    try:
        zf = zipfile.ZipFile(path)
    except zipfile.BadZipFile as e:
        raise ValueError(
            f"{path}: not a zip container — legacy .xls (BIFF) is not "
            "supported by the stdlib reader; convert to .xlsx or CSV "
            "upstream"
        ) from e
    with zf:
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        sheets = wb.findall("m:sheets/m:sheet", _NS)
        if isinstance(sheet_name, int):
            sheet = sheets[sheet_name]
        else:
            by_name = {s.get("name"): s for s in sheets}
            sheet = by_name[sheet_name]
        rid = sheet.get(_RID_ATTR)
        rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        target = next(
            r.get("Target")
            for r in rels.findall("r:Relationship", _REL_NS)
            if r.get("Id") == rid
        )
        part = target if target.startswith("xl/") else f"xl/{target}"

        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            sst = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in sst.findall("m:si", _NS):
                shared.append(
                    "".join(t.text or "" for t in si.iter(f"{{{_NS['m']}}}t"))
                )

        ws = ET.fromstring(zf.read(part))
        rows: list[list] = []
        for row_el in ws.findall("m:sheetData/m:row", _NS):
            row: list = []
            for cell in row_el.findall("m:c", _NS):
                ref = cell.get("r")
                idx = _col_index(ref) if ref else len(row)
                while len(row) < idx:
                    row.append(None)
                row.append(_cell_value(cell, shared))
            rows.append(row)
        width = max((len(r) for r in rows), default=0)
        return [r + [None] * (width - len(r)) for r in rows]
