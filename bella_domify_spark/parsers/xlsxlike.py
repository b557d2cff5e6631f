"""Spreadsheet payload parsing (F8 layout text + F9 Excel domtree).

Transcripts carry no binary workbooks, so spreadsheet payloads arrive as a
JSON sheet model (FIXTURES.md):

    {"sheets": [{"name": "S1",
                 "rows": [["a", "b"], [1.5, null]],
                 "merged": [[r0, r1, c0, c1], ...]}]}   # half-open ranges

Parity targets in /root/reference:
- F8 layout text — doc_parser/layout_parser/xlsx_parser.py:20-46: per sheet
  ``Sheet: <name>\n`` then every grid cell as ``str(value) + "\t"`` with a
  newline per row and per sheet. openpyxl yields ``None`` for empty AND for
  merge-covered cells, which the reference renders literally as ``"None"``
  — reproduced (faithfulness note in README).
- F9 domtree — doc_parser/dom_parser/parsers/excel/converter.py:85-417: one
  TableBlock node per sheet under root (each stamped order "1",
  converter.py:103-105), merge-covered cells skipped, the merge's main cell
  carrying the (height, width) span, dates formatted ``YYYY-MM-DD`` when
  midnight else ``YYYY-MM-DD HH:MM:SS`` (converter.py:241-249, 357-365),
  ``None`` → ``""`` (converter.py:352-355), everything else ``str()``.
"""

from __future__ import annotations

import json

from bella_domify_spark.functions import fastjson
from typing import List, Optional, Tuple

from bella_domify_spark.core.blocks import Cell, TableBlock
from bella_domify_spark.core.tree import DomTree, Node

CELL_W = 10.0  # synthetic grid pitch (converter.py:263-265)
CELL_H = 10.0


def _fmt_date(parts: List[int]) -> str:
    y, m, d, hh, mi, ss = (list(parts) + [0] * 6)[:6]
    if hh == 0 and mi == 0 and ss == 0:
        return f"{y}-{m:02d}-{d:02d}"
    return f"{y}-{m:02d}-{d:02d} {hh:02d}:{mi:02d}:{ss:02d}"


def _cell_value(v, covered: bool, for_layout: bool) -> str:
    if covered:
        return "None" if for_layout else ""
    if v is None:
        return "None" if for_layout else ""
    if isinstance(v, dict) and "date" in v:
        return _fmt_date(v["date"])
    if isinstance(v, float) and v.is_integer():
        return str(v)  # str(1.0) == '1.0' — same as reference str(cell_value)
    return str(v)


def _covered_map(merged: List) -> dict:
    """(row, col) -> main (row, col) for merge-covered (non-main) cells."""
    out = {}
    for r0, r1, c0, c1 in merged or []:
        for r in range(r0, r1):
            for c in range(c0, c1):
                if (r, c) != (r0, c0):
                    out[(r, c)] = (r0, c0)
    return out


def _main_span(merged: List, r: int, c: int) -> Tuple[int, int]:
    for r0, r1, c0, c1 in merged or []:
        if (r, c) == (r0, c0):
            return (r1 - r0, c1 - c0)
    return (1, 1)


def layout_text(payload: str) -> str:
    """F8: flat text with ``Sheet:`` headers and tab-joined cells."""
    doc = fastjson.loads(payload)
    out = []
    for sheet in doc.get("sheets", []):
        out.append(f"Sheet: {sheet.get('name', '')}\n")
        covered = _covered_map(sheet.get("merged"))
        for ri, row in enumerate(sheet.get("rows", [])):
            for ci, v in enumerate(row):
                out.append(_cell_value(v, (ri, ci) in covered,
                                       for_layout=True) + "\t")
            out.append("\n")
        out.append("\n")
    return "".join(out)


def build_domtree(payload: str) -> DomTree:
    """F9: one TableBlock per sheet under root."""
    doc = fastjson.loads(payload)
    tree = DomTree()
    for i, sheet in enumerate(doc.get("sheets", [])):
        merged = sheet.get("merged") or []
        covered = _covered_map(merged)
        rows = sheet.get("rows", [])
        cell_rows: List[List[Cell]] = []
        max_c = 0.0
        for ri, row in enumerate(rows):
            cells: List[Cell] = []
            for ci, v in enumerate(row):
                if (ri, ci) in covered:
                    continue
                h, w = _main_span(merged, ri, ci)
                cells.append(Cell(text=_cell_value(v, False, for_layout=False),
                                  start_row=ri, end_row=ri + h - 1,
                                  start_col=ci, end_col=ci + w - 1))
                max_c = max(max_c, (ci + w) * CELL_W)
            cell_rows.append(cells)
        bbox = (0.0, 0.0, max_c, len(rows) * CELL_H)
        tb = TableBlock(rows=cell_rows, bbox=bbox, page_num=[i])
        node = Node(tb)
        node.order_num_str = "1"  # reference stamps every sheet node "1"
        tree.root.add_child(node)
    return tree


def extract_text(payload: str) -> str:
    return build_domtree(payload).to_markdown()
